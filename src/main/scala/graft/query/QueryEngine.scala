package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analysis.Analyzer
import graft.index.{DriverAgg, InvertedIndex}
import graft.score.ScoreModel

/** Free-text disjunctive query over an [[InvertedIndex]] — the Spark-native
  * re-expression of reference `Index::query`
  * (/root/reference/src/query.rs:17-106):
  *
  * {{{
  *   query string ── tokenize (driver, trivial)
  *   term_dict  ── filter(startsWith any query term), collected
  *              (reference expand_term, query.rs:108-147: trie prefix DFS
  *               ≡ prefix predicate on the term dictionary; the
  *               (query term, expansion) pairing runs on the driver)
  *   postings   ── filter(term/bucket IN expansions, or prefix-OR)
  *              ── NOT doc_id IN tombstones           (skipped when none)
  *              ⋈ expansions + per-term precalc columns
  *              ── ScoreModel.score                   (one shuffle on doc_id)
  *              ── orderBy(score desc, doc_id asc)    (top-k ⇒
  *                                                     TakeOrderedAndProject)
  * }}}
  *
  * Expansion resolution runs against the term DICTIONARY first (tiny
  * relative to postings — one row per distinct term). When the expansion
  * set fits under `maxCollectedExpansions` it is collected and the posting
  * scan gets literal `bucket IN (…) AND term IN (…)` predicates — on a
  * persisted index (hash-bucketed by term, [[graft.index.IndexCatalog]])
  * that is PARTITION PRUNING: a query touches only the buckets of its
  * expanded terms, not the 10^12-row posting store. Pathologically broad
  * prefixes fall back to a non-collected plan with a `startsWith` scan
  * predicate, preserving the reference's unbounded-expansion semantics.
  *
  * What the driver already holds is not shipped back through Spark jobs:
  * a collected expansion table joins the postings as a literal hash table
  * inside the scan ([[joinExpansions]]), and a tombstone set held on the
  * driver is a hash-set predicate, not an anti-join. Only a non-collected
  * expansion table or a tombstone set too large to hold is a broadcast
  * join. The exchanges over posting data are the scoring aggregations.
  */
object QueryEngine {

  val resultSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  private def emptyResult(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], resultSchema)

  /** All matched documents with scores, ordered by the canonical total
    * order (score desc, doc_id asc — the reference harness tiebreak,
    * /root/reference/src/lib.rs:54-58). Pass `limit > 0` for top-k (the
    * reference returns all matches; query.rs:103).
    *
    * `maxEdits > 0` switches term expansion from the reference's PREFIX
    * semantics to FUZZY matching (north_star: "expanded/fuzzy term
    * matching"): a query term expands to every dictionary term within
    * `maxEdits` Levenshtein edits. The expansion boost generalizes the
    * reference's formula along the one axis it already measures: a prefix
    * expansion is `lenDiff` pure INSERTIONS away from the query term, i.e.
    * its edit distance — so fuzzy boosts are the same
    * `ln(1 + 1/(1 + editDistance))` (BM25) / `1 − editDistance/len(exp)`
    * (zero-to-one) with substitutions and deletions now reachable. The
    * reference has no fuzzy mode; this is an extension, kept on a separate
    * parameter so `maxEdits = 0` stays bit-faithful to the prefix goldens.
    *
    * `docFilter` restricts RESULTS to an allowed `doc_id` set while keeping
    * corpus-level stats — see [[scoreCandidates]] for the filtered-search
    * semantics and scale shape.
    */
  def query(idx: InvertedIndex, queryString: String, model: ScoreModel,
      boosts: Seq[Double] = Nil, limit: Int = -1,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      maxEdits: Int = 0, docFilter: Option[DataFrame] = None): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val fb = if (boosts.isEmpty) Seq.fill(idx.numFields)(1.0) else boosts
    require(fb.size == idx.numFields, "one boost per field")

    // Reference query.rs:29-35: raw token count (incl. empties) feeds
    // query_terms_len; empty terms are skipped in the scoring loop. The
    // tokenizer must match the one the index was built with (reference
    // passes it per query call, /root/reference/src/query.rs:24).
    val raw = tokenizer(queryString)
    val qterms = raw.zipWithIndex.collect { case (t, i) if t.nonEmpty => (i, t) }
    if (qterms.isEmpty) return emptyResult(spark)

    if (maxEdits > 0)
      return queryFuzzy(idx, qterms, raw.length, model, fb, limit,
        maxCollectedExpansions, maxEdits, docFilter = docFilter)

    prefixCandExp(idx, qterms, maxCollectedExpansions) match {
      case None => emptyResult(spark)
      case Some((cand0, exp)) =>
        scoreCandidates(idx, cand0, exp, model, fb, raw.length, limit,
          docFilter)
    }
  }

  /** Prefix-expansion resolution shared by [[query]] and [[explain]]: the
    * (candidate postings, expansion table) pair, via the two-tier plan —
    * collected bucket/term-IN partition-pruned scan when the expansion set
    * fits `cap`; the `startsWith`-scan DataFrame fallback (with the
    * tombstone live-df recount) when over. None ⇔ no term matches anything.
    */
  private def prefixCandExp(idx: InvertedIndex, qterms: Seq[(Int, String)],
      cap: Int): Option[(DataFrame, DataFrame)] = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    resolveExpansionsCollected(idx, qterms, cap) match {
      case Some((rows, buckets)) =>
        if (rows.isEmpty) None
        else Some((
          idx.livePostings
            .filter(candidatePredicate(idx, rows.map(_._3).distinct, buckets)),
          rows.toDF("qti", "qterm", "exp_term", "df")))

      case None =>
        // unbounded expansion (over the collect cap): keep everything as
        // a DataFrame — startsWith scan predicate, no driver round trip
        val prefixPred = qterms.map { case (_, t) => col("term").startsWith(lit(t)) }.reduce(_ || _)
        val qdf = qterms.toSeq.toDF("qti", "qterm")
        val exp = idx.termdict.filter(prefixPred)
          .join(broadcast(qdf), col("term").startsWith(col("qterm")))
          .select(col("qti"), col("qterm"), col("term").as("exp_term"),
            col("df").cast("long").as("df"))
        val cand0 = idx.livePostings.filter(prefixPred)
        // live-df recount under tombstones (mirrors the collected path's
        // recount inside resolveExpansionsCollected)
        val expLive =
          if (idx.hasTombstones) {
            val liveDf = cand0.groupBy(col("term")).agg(sum(col("occ")).as("ldf"))
            exp.drop("df").join(liveDf, col("exp_term") === col("term"))
              .select(col("qti"), col("qterm"), col("exp_term"), col("ldf").as("df"))
          } else exp
        Some((cand0, expLive))
    }
  }

  /** Score EXPLANATION — the "why does this doc rank here" surface every
    * search deployment ships: for each matched (doc, query term), the
    * winning expansion term and its contribution, such that
    * Σ term_score == [[query]]'s score for that doc (BM25's merge rule IS
    * Σ_queryTerms max_expansions, so the breakdown is the scoring pipeline
    * stopped before the final sum — see
    * [[graft.score.ScoreModel.termContributions]]; models without a
    * per-term decomposition throw). Output: `(doc_id, qti, qterm,
    * best_term, term_score)`, ordered (doc_id asc, qti asc).
    *
    * `k > 0` restricts the breakdown to [[query]]'s top-k docs;
    * `docFilter` composes like everywhere else (the breakdown of a
    * filtered/conjunctive/NOT query is the same call with that filter).
    * Scale shape: identical to [[query]] — same two-tier resolution via
    * [[prefixCandExp]], same pruned scans; the window runs per (doc, qti)
    * on the already-pruned candidate join, and under `k > 0` on k docs.
    */
  def explain(idx: InvertedIndex, queryString: String, model: ScoreModel,
      k: Int = -1, boosts: Seq[Double] = Nil,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      docFilter: Option[DataFrame] = None): DataFrame = {
    val spark = idx.postings.sparkSession
    val fb = if (boosts.isEmpty) Seq.fill(idx.numFields)(1.0) else boosts
    require(fb.size == idx.numFields, "one boost per field")
    val raw = tokenizer(queryString)
    val qterms = raw.zipWithIndex.collect { case (t, i) if t.nonEmpty => (i, t) }
    def none = emptyFrame(spark, "doc_id" -> LongType, "qti" -> IntegerType,
      "qterm" -> StringType, "best_term" -> StringType,
      "term_score" -> DoubleType)
    if (qterms.isEmpty) return none
    prefixCandExp(idx, qterms, maxCollectedExpansions) match {
      case None => none
      case Some((cand, exp)) =>
        val cand1 = docFilter.fold(cand) { f =>
          require(f.columns.contains("doc_id"), "docFilter needs a doc_id column")
          cand.join(f.select(col("doc_id")), Seq("doc_id"), "left_semi")
        }
        val cand2 =
          if (k > 0)
            cand1.join(
              scoreCandidates(idx, cand, exp, model, fb, raw.length, k,
                docFilter).select(col("doc_id")),
              Seq("doc_id"), "left_semi")
          else cand1
        val stats = idx.fieldStats()
        val joined = joinExpansions(cand2, model.expansionColumns(exp, stats))
        model.termContributions(joined, stats, fb, idx.numFields)
          .orderBy(col("doc_id").asc, col("qti").asc)
    }
  }

  /** Fuzzy-expansion query tail: resolve each query term to dictionary
    * terms within `maxEdits` Levenshtein edits, then score through the
    * SAME [[scoreCandidates]] tail as the prefix path (the models see the
    * extra `edist` column and switch their boost to the edit-distance
    * generalization — see [[query]]).
    *
    * Collected path: the expansion set is tiny (a length-window around
    * each query term intersected with edit-distance ≤ 1–2), so it collects
    * under the cap and the posting scan gets the same `bucket IN/term IN`
    * partition-pruning predicates as prefix queries. Over the cap the
    * non-collected fallback keeps everything as DataFrames: the postings
    * are SEMI-JOINED against the expansion terms (broadcast-sized by
    * construction — it is a filtered dictionary) instead of a literal
    * predicate — no driver round trip.
    */
  private def queryFuzzy(idx: InvertedIndex, qterms: Seq[(Int, String)],
      qlenRaw: Int, model: ScoreModel, fb: Seq[Double], limit: Int,
      cap: Int, maxEdits: Int, dict: Option[DataFrame] = None,
      docFilter: Option[DataFrame] = None): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    resolveFuzzyCollected(idx, qterms, maxEdits, cap, dict) match {
      case Some((rows, buckets)) =>
        if (rows.isEmpty) return emptyResult(spark)
        val cand0 = idx.livePostings
          .filter(candidatePredicate(idx, rows.map(_._3).distinct, buckets))
        val expDf = rows.toDF("qti", "qterm", "exp_term", "df", "edist")
        scoreCandidates(idx, cand0, expDf, model, fb, qlenRaw, limit,
          docFilter)
      case None =>
        // over the collect cap: DataFrame-only plan (the fuzzy analog of
        // the prefix path's startsWith-scan fallback)
        val qdf = qterms.toSeq.toDF("qti", "qterm")
        val exp = idx.termdict.filter(fuzzyLenWindow(qterms, maxEdits))
          .join(broadcast(qdf),
            levenshtein(col("term"), col("qterm")) <= maxEdits)
          .select(col("qti"), col("qterm"), col("term").as("exp_term"),
            col("df").cast("long").as("df"),
            levenshtein(col("term"), col("qterm")).as("edist"))
        val cand0 = idx.livePostings.join(
          exp.select(col("exp_term")).distinct(),
          col("term") === col("exp_term"), "left_semi")
        val expLive =
          if (idx.hasTombstones) {
            val liveDf = cand0.groupBy(col("term")).agg(sum(col("occ")).as("ldf"))
            exp.drop("df").join(liveDf, col("exp_term") === col("term"))
              .select(col("qti"), col("qterm"), col("exp_term"),
                col("ldf").as("df"), col("edist"))
          } else exp
        scoreCandidates(idx, cand0, expLive, model, fb, qlenRaw, limit,
          docFilter)
    }
  }

  /** Fuzzy query served from a PERSISTED index with a deletion-variant
    * table ([[graft.index.IndexCatalog.buildFuzzy]]): candidate terms come
    * from `O(len(queryTerm))` partition-pruned point lookups against
    * `fuzzydict/` instead of a `levenshtein` pass over the whole vocabulary
    * — the 10^9-term-scale path. Scoring is the SAME tail as
    * [[query]]`(maxEdits = 1)` (FuzzySpec pins result equality); `idx` must
    * be the opened index at `root`.
    */
  def queryFuzzyPersisted(idx: InvertedIndex, root: String,
      queryString: String, model: ScoreModel, boosts: Seq[Double] = Nil,
      limit: Int = -1, maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      docFilter: Option[DataFrame] = None): DataFrame = {
    val spark = idx.postings.sparkSession
    val fb = if (boosts.isEmpty) Seq.fill(idx.numFields)(1.0) else boosts
    require(fb.size == idx.numFields, "one boost per field")
    val raw = tokenizer(queryString)
    val qterms = raw.zipWithIndex.collect { case (t, i) if t.nonEmpty => (i, t) }
    if (qterms.isEmpty) return emptyResult(spark)
    val dict = graft.index.IndexCatalog.fuzzyCandidateDict(
      spark, root, qterms.map(_._2), maxEdits = 1)
    queryFuzzy(idx, qterms, raw.length, model, fb, limit,
      maxCollectedExpansions, maxEdits = 1, dict = Some(dict),
      docFilter = docFilter)
  }

  /** Empty result frame with the given (name, type) columns — the shared
    * zero-rows shape for strict-AND misses, empty workloads, and missing
    * docs, so the schema every downstream semi-join/compose step relies on
    * is defined in exactly one place.
    */
  private def emptyFrame(spark: SparkSession,
      fields: (String, org.apache.spark.sql.types.DataType)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) }))

  /** CONJUNCTIVE (AND) matching as a derived [[query]] `docFilter`: the set
    * of live documents matching at least one expansion of EVERY non-empty
    * query term. The reference is disjunction-only (query.rs:17-106); AND
    * semantics is the standard extension every search deployment needs, and
    * expressing it as a doc filter composes with everything else for free —
    * `query(q, m, docFilter = Some(conjunctiveFilter(idx, q)))` is the
    * conjunctive query, and the same frame drops into
    * [[BlockMaxTopK.query]] (the disjunctive per-range UB dominates every
    * conjunctive doc's true score, so WAND pruning stays sound; the θ-probe
    * then seeds from conjunctive docs only, which prunes HARDER).
    *
    * Plan shape: the same term-pruned candidate scan the query itself uses
    * (bucket/term IN — never the full posting store), one
    * `groupBy(doc_id).agg(count(DISTINCT qti))` with map-side partial
    * aggregation, `= nTerms` filter. A term with zero live expansions makes
    * the result empty (strict AND).
    */
  def conjunctiveFilter(idx: InvertedIndex, queryString: String,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      maxEdits: Int = 0): DataFrame =
    minMatchFilter(idx, queryString, Int.MaxValue, maxCollectedExpansions,
      tokenizer, maxEdits)

  /** MINIMUM-SHOULD-MATCH as a derived [[query]] `docFilter`: live documents
    * matching at least `minMatch` DISTINCT query-term slots (each via any of
    * its expansions) — the standard middle ground between OR (`minMatch=1`,
    * the default disjunction) and AND (`minMatch = nTerms`,
    * [[conjunctiveFilter]]). `minMatch` is clamped to `[1, nTerms]`, so
    * `Int.MaxValue` means strict conjunction.
    *
    * Same plan shape as [[conjunctiveFilter]] (which delegates here): the
    * term-pruned candidate scan, one `countDistinct(qti)` aggregate with
    * map-side partials, a `>= m` filter — never the full posting store, and
    * the result composes through the shared `docFilter` seam on every path
    * including [[BlockMaxTopK]] (the disjunctive per-range UB dominates
    * every m-of-n doc's true score, so WAND pruning stays sound).
    */
  def minMatchFilter(idx: InvertedIndex, queryString: String,
      minMatch: Int,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      maxEdits: Int = 0): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val raw = tokenizer(queryString)
    val qterms = raw.zipWithIndex.collect { case (t, i) if t.nonEmpty => (i, t) }
    def none = emptyFrame(spark, "doc_id" -> LongType)
    if (qterms.isEmpty) return none
    val m = math.max(1, math.min(minMatch, qterms.length))
    // (qti, exp_term) pairs + the matching candidate-scan predicate, via
    // the SAME resolvers as the scoring paths (collected when small; the
    // DataFrame fallback over the cap)
    val (pairs, cand) =
      (if (maxEdits > 0) resolveFuzzyCollected(idx, qterms, maxEdits,
          maxCollectedExpansions).map(r => (r._1.map(x => (x._1, x._3)), r._2))
       else resolveExpansionsCollected(idx, qterms, maxCollectedExpansions)
          .map(r => (r._1.map(x => (x._1, x._3)), r._2))) match {
        case Some((rows, buckets)) =>
          if (rows.isEmpty) return none
          (broadcast(rows.distinct.toDF("qti", "exp_term")),
            idx.livePostings.filter(
              candidatePredicate(idx, rows.map(_._2).distinct, buckets)))
        case None =>
          val qdf = qterms.toSeq.toDF("qti", "qterm")
          if (maxEdits > 0) {
            val p = idx.termdict.filter(fuzzyLenWindow(qterms, maxEdits))
              .join(broadcast(qdf),
                levenshtein(col("term"), col("qterm")) <= maxEdits)
              .select(col("qti"), col("term").as("exp_term"))
            (p, idx.livePostings.join(p.select("exp_term").distinct(),
              col("term") === col("exp_term"), "left_semi"))
          } else {
            val pred = qterms.map { case (_, t) =>
              col("term").startsWith(lit(t)) }.reduce(_ || _)
            val p = idx.termdict.filter(pred)
              .join(broadcast(qdf), col("term").startsWith(col("qterm")))
              .select(col("qti"), col("term").as("exp_term"))
            (p, idx.livePostings.filter(pred))
          }
      }
    cand.select(col("doc_id"), col("term"))
      .join(pairs, col("term") === col("exp_term"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("qti")).as("nmatched"))
      .filter(col("nmatched") >= lit(m))
      .select(col("doc_id"))
  }

  /** PHRASE matching (exact adjacent token sequence) as a derived [[query]]
    * `docFilter`, via two-phase MATCH + VERIFY. The index stores no token
    * positions — positional postings would double-to-triple posting bytes
    * at 100 TB for an operator most queries never use (the reference stores
    * none either, index.rs:86-116) — so:
    *
    *  - Phase 1 (match): exact-term conjunctive candidates from the index —
    *    the same bucket/term-pruned posting scan every query uses, one
    *    partial-aggregated `count(DISTINCT term) = n` pass. A multi-word
    *    phrase's candidate count is bounded by its rarest term's df.
    *  - Phase 2 (verify): adjacency checked on the CANDIDATES' raw fields
    *    only. `docs` is scanned column-pruned to (id, fields); when the
    *    candidate set is small (≤ `maxCollectedCandidates`) the ids are
    *    collected and pushed as a `doc_id IN` SCAN predicate — parquet
    *    row-group pruning on id-sorted corpora, so the verify pass reads
    *    only the row groups holding candidates; above the cap a semi-join
    *    keeps it fully distributed (AQE broadcasts the candidate side when
    *    it is broadcastable). The adjacency test itself is pure codegen —
    *    `array_join` of the SAME token stream the index was built from,
    *    space-padded `instr` — no UDF, no positions.
    *
    * A phrase matches WITHIN one field; it never spans a field boundary
    * (each field's token stream is tested independently). `tokensCol` must
    * be the tokenizer the index was built with ([[graft.analysis.Analyzer
    * .tokensCol]] / `codeTokensCol`) — token-level adjacency, so with the
    * code tokenizer the phrase "foo . bar" matches source text `foo.bar`.
    * A phrase term absent from the live dictionary empties the result.
    *
    * Compose: `query(idx, phrase, model, docFilter = Some(phraseFilter(…)))`
    * ranks the phrase-matching docs by the phrase terms' BM25 (corpus-level
    * stats), and the same frame drops into [[BlockMaxTopK.query]] — θ seeds
    * from phrase-matching docs only, so WAND prunes HARDER under a phrase.
    *
    * `slop > 0` relaxes adjacency to ORDERED PROXIMITY: phrase terms must
    * appear in order with at most `slop` intervening tokens between each
    * adjacent pair (slop = 0 ≡ the exact phrase; a slop result set is
    * always a superset, pinned by PhraseSpec). Phase 1 is unchanged —
    * candidates are still bounded by the rarest term's df — only the
    * verify predicate widens (one literal-regex search per field).
    * NOTE this diverges from Lucene/Elasticsearch `slop`, which is a TOTAL
    * edit-moves budget across the whole phrase and admits transpositions:
    * here the budget is per-adjacent-gap and order is required, so a
    * 3-term phrase at slop = 2 may match with up to 4 total intervening
    * tokens but "b a" never matches the phrase "a b". Same parameter
    * name, different algebra — callers porting ES queries should read
    * `slop` here as "maxGap per adjacent pair".
    */
  def phraseFilter(idx: InvertedIndex, docs: DataFrame, docIdCol: String,
      fieldCols: Seq[String], phrase: String,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      tokensCol: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        Analyzer.tokensCol,
      maxCollectedCandidates: Int = 65536,
      slop: Int = 0): DataFrame = {
    val spark = idx.postings.sparkSession
    def none = emptyFrame(spark, "doc_id" -> LongType)
    val terms = tokenizer(phrase).filter(_.nonEmpty)
    if (terms.isEmpty) return none
    val distinctTerms: Seq[String] = terms.distinct
    // exact dictionary lookup (point predicate, ≤ n rows): buckets for the
    // posting-scan partition pruning; a missing term ⇒ strict-AND empty.
    // Only worth a driver round-trip when the index HAS a bucket column
    // (persisted catalog): on an in-memory index the lookup prunes nothing
    // — the missing-term early exit it also provided falls out of the
    // candidate aggregation below for free (zero matched docs ⇒ none), so
    // skipping it saves one sequential job per phrase query.
    val buckets: Seq[Int] =
      if (idx.termdict.columns.contains("bucket")) {
        val found = idx.termdict.filter(col("term").isin(distinctTerms: _*))
          .select(col("term"), col("bucket").cast("int").as("bucket")).collect()
        if (found.map(_.getString(0)).distinct.length < distinctTerms.length)
          return none
        found.map(_.getInt(1)).distinct.toSeq
      } else Seq(-1)
    val cand = idx.livePostings
      .filter(candidatePredicate(idx, distinctTerms, buckets))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("nmatched"))
      .filter(col("nmatched") === lit(distinctTerms.length))
      .select(col("doc_id"))
    // Verify predicate over the padded canonical token stream. slop = 0 is
    // plain substring (`instr`, the cheapest codegen'd form); slop > 0 is
    // ORDERED PROXIMITY — up to `slop` intervening tokens between each
    // ADJACENT phrase-term pair — as one literal-pattern regex search
    // (`t1( [^ ]+){0,slop} t2 …`; RLike with a literal pattern compiles
    // once and stays in whole-stage codegen). The `java ∩ RE2` dialect:
    // terms are per-char escaped, no \Q\E, so external engines agree.
    val padded = fieldCols.map(f =>
      concat(lit(" "), array_join(tokensCol(col(f)), " "), lit(" ")))
    val adjacent =
      if (slop <= 0) {
        val needle = " " + terms.mkString(" ") + " "
        padded.map(p => instr(p, needle) > 0).reduce(_ || _)
      } else {
        val pat = " " + terms.map(regexEscapeTerm)
          .mkString(s"( [^ ]+){0,$slop} ") + " "
        padded.map(_.rlike(pat)).reduce(_ || _)
      }
    val base = docs.select(
      col(docIdCol).cast("long").as("doc_id") +: fieldCols.map(col): _*)
    val collected = cand.limit(maxCollectedCandidates + 1).collect()
    val verified =
      if (collected.length <= maxCollectedCandidates) {
        if (collected.isEmpty) return none
        base.filter(col("doc_id").isin(collected.map(_.getLong(0)).toSeq: _*))
      } else base.join(cand, Seq("doc_id"), "left_semi")
    verified.filter(adjacent).select(col("doc_id"))
  }

  /** Escape one token for use as a regex LITERAL in both Java regex and RE2
    * (per-char escaping — `\Q…\E` avoided so the pattern stays in the
    * `java ∩ RE2` dialect external engines share).
    */
  private[graft] def regexEscapeTerm(t: String): String =
    t.flatMap(c =>
      if ("\\^$.|?*+()[]{}".indexOf(c.toInt) >= 0) s"\\$c" else c.toString)

  /** BATCHED multi-query search — score a whole query workload in ONE pass
    * over the posting store. The eval / offline-serving shape: at 10^12
    * docs, running N queries through [[query]] is N pruned-but-separate
    * posting scans and N Spark jobs; batching amortizes the workload to
    *
    *  - ONE dictionary resolve (each DISTINCT term across the batch is
    *    expanded once, shared by every query using it),
    *  - ONE posting scan pruned to the UNION of the batch's buckets/terms,
    *  - ONE broadcast join against the (qid-tagged) expansion table, and
    *  - ONE shuffle keyed (qid, doc_id) — the same shuffle a single query
    *    pays, just wider; map-side partial aggregation still applies.
    *
    * Per-(qid, doc) scores are IDENTICAL to running [[query]] per query
    * (pinned by BatchQuerySpec for both shipped models): batch is an
    * execution strategy, not a semantics change. Per-query top-k (`k > 0`)
    * is a `row_number` window over the (qid, doc_id)-keyed result — the
    * rank computation rides the same partitioning as the final aggregate.
    *
    * Returns `(qid, doc_id, score)`, per-query ordering only under `k > 0`.
    * Query strings live on the driver (they are the workload definition —
    * a million-query eval set is still MBs); everything derived from them
    * stays distributed, with the same collected-expansion cap + startsWith
    * DataFrame fallback discipline as [[query]]. Prefix semantics; no
    * fuzzy batch path (run fuzzy workloads per query).
    */
  def batchQuery(idx: InvertedIndex, queries: Seq[(Long, String)],
      model: ScoreModel, boosts: Seq[Double] = Nil, k: Int = -1,
      maxCollectedExpansions: Int = 65536,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val fb = if (boosts.isEmpty) Seq.fill(idx.numFields)(1.0) else boosts
    require(fb.size == idx.numFields, "one boost per field")
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate query ids in batch")
    def none = emptyFrame(spark, "qid" -> LongType, "doc_id" -> LongType,
      "score" -> DoubleType)
    // (qid, qti, qterm, qlenRaw) — qlenRaw counts empties, like query()
    val qrows = queries.flatMap { case (qid, q) =>
      val raw = tokenizer(q)
      raw.zipWithIndex.collect { case (t, i) if t.nonEmpty =>
        (qid, i, t, raw.length) }
    }
    if (qrows.isEmpty) return none
    val stats = idx.fieldStats()
    val distinctTerms = qrows.map(_._3).distinct
    // the collected plan is used only when BOTH driver-side sets fit the
    // cap: the distinct-term expansion table (checked by the resolver) AND
    // its per-query fan-out |qrows| × expansions (a million-query batch
    // over hot prefixes must not materialize on the driver — it routes to
    // the fully distributed plan instead)
    val resolved = resolveExpansionsCollected(idx,
      distinctTerms.zipWithIndex.map { case (t, i) => (i, t) },
      maxCollectedExpansions)
    if (resolved.exists(_._1.isEmpty)) return none // no term matches at all
    val collected = resolved.flatMap { case (rows, buckets) =>
      val byTerm = rows.groupBy(_._2)
        .map { case (t, rs) => t -> rs.map(r => (r._3, r._4)) }
      val fanout = qrows.iterator
        .map(q => byTerm.get(q._3).fold(0)(_.length).toLong).sum
      if (fanout > maxCollectedExpansions.toLong) None
      else Some((rows, buckets, byTerm))
    }
    val scored = collected match {
      case Some((rows, buckets, byTerm)) =>
        val expRows = qrows.flatMap { case (qid, qti, t, qlen) =>
          byTerm.getOrElse(t, Nil).map { case (e, df) =>
            (qid, qti, t, e, df, qlen) }
        }
        if (expRows.isEmpty) return none
        val expDf = expRows.toDF("qid", "qti", "qterm", "exp_term", "df", "qlen")
        val cand = idx.livePostings.filter(
          candidatePredicate(idx, rows.map(_._3).distinct, buckets))
        val joined = joinExpansions(cand, model.expansionColumns(expDf, stats))
        model.scoreBatch(joined, stats, fb, idx.numFields)
      case None =>
        // non-collected fallback (giant batch / hot prefixes): the same
        // startsWith-scan plan as query()'s, with the qid column threaded
        val qdf = qrows.toDF("qid", "qti", "qterm", "qlen")
        val pred = distinctTerms.map(t => col("term").startsWith(lit(t)))
          .reduce(_ || _)
        val exp0 = idx.termdict.filter(pred)
          .join(broadcast(qdf), col("term").startsWith(col("qterm")))
          .select(col("qid"), col("qti"), col("qterm"),
            col("term").as("exp_term"), col("df").cast("long").as("df"),
            col("qlen"))
        val cand = idx.livePostings.filter(pred)
        val exp =
          if (idx.hasTombstones) {
            val liveDf = cand.groupBy(col("term")).agg(sum(col("occ")).as("ldf"))
            exp0.drop("df").join(liveDf, col("exp_term") === col("term"))
              .select(col("qid"), col("qti"), col("qterm"), col("exp_term"),
                col("ldf").as("df"), col("qlen"))
          } else exp0
        val joined = cand.join(model.expansionColumns(exp, stats),
          col("term") === col("exp_term"))
        model.scoreBatch(joined, stats, fb, idx.numFields)
    }
    if (k > 0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id").asc)
      scored.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k).drop("_rn")
        .orderBy(col("qid").asc, col("score").desc, col("doc_id").asc)
    } else scored
  }

  /** Phrase-scored search: docs containing the exact phrase, ranked by the
    * phrase terms' scores under `model` (corpus-level stats — the standard
    * phrase semantics: the phrase is a match predicate, not a scoring
    * change). See [[phraseFilter]] for the match+verify design.
    */
  def phraseQuery(idx: InvertedIndex, docs: DataFrame, docIdCol: String,
      fieldCols: Seq[String], phrase: String, model: ScoreModel,
      boosts: Seq[Double] = Nil, limit: Int = -1,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      tokensCol: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        Analyzer.tokensCol,
      slop: Int = 0): DataFrame =
    query(idx, phrase, model, boosts, limit, tokenizer = tokenizer,
      docFilter = Some(phraseFilter(idx, docs, docIdCol, fieldCols, phrase,
        tokenizer, tokensCol, slop = slop)))

  /** SYNONYM-EXPANDED query: each query term matches ITSELF plus its
    * synonym variants, all under the SAME query-term slot (qti) — so the
    * max-merge scores every doc by its best-matching variant and synonyms
    * can never double-count (a doc containing both "merge" and its synonym
    * "join" contributes max(merge-score, join-score) for that slot, not
    * the sum). A variant's expansion boost is computed against the VARIANT
    * (an exact variant hit boosts 1.0): a synonym scores as if the user
    * had typed it, which is the standard analyzer-time synonym semantics.
    * The reference has no synonym surface; this is a pure extension riding
    * [[prefixCandExp]] + [[scoreCandidates]] unchanged — the variant list
    * only widens the (qti, qterm) pairs, so the two-tier pruned resolution,
    * tombstone live-df recount, `docFilter` seam, and collect-cap fallback
    * all apply as-is. Scale shape: identical to [[query]] with a few more
    * query-side rows (still broadcast-tiny).
    *
    * Best suited to max-merge models (BM25); zero-to-one's greedy df-pool
    * treats each variant as its own pool node, which is well-defined but
    * not the reference's single-term semantics.
    */
  def synonymQuery(idx: InvertedIndex, queryString: String,
      synonyms: Map[String, Seq[String]], model: ScoreModel,
      boosts: Seq[Double] = Nil, limit: Int = -1,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      docFilter: Option[DataFrame] = None): DataFrame = {
    val spark = idx.postings.sparkSession
    val fb = if (boosts.isEmpty) Seq.fill(idx.numFields)(1.0) else boosts
    require(fb.size == idx.numFields, "one boost per field")
    val raw = tokenizer(queryString)
    val qterms = raw.zipWithIndex
      .collect { case (t, i) if t.nonEmpty => (i, t) }
      .flatMap { case (i, t) =>
        (t +: synonyms.getOrElse(t, Nil).filter(_.nonEmpty).toIndexedSeq)
          .distinct.map(v => (i, v))
      }
    if (qterms.isEmpty) return emptyResult(spark)
    prefixCandExp(idx, qterms, maxCollectedExpansions) match {
      case None => emptyResult(spark)
      case Some((cand, exp)) =>
        scoreCandidates(idx, cand, exp, model, fb, raw.length, limit,
          docFilter)
    }
  }

  /** REGEX term search: every indexed term matching `pattern` (full-string
    * Java-regex match, the `java ∩ RE2` dialect recommended so external
    * engines agree) becomes an EXACT-scored variant under ONE query-term
    * slot — boost 1.0, as if the user had typed that term (the
    * [[synonymQuery]] variant semantics), merged by the per-(doc, slot)
    * max so a doc matching several regex terms scores its best one, never
    * a sum. The reference's only term algebra is prefix `expand_term`
    * (/root/reference/src/query.rs:108-147); regex is the standard
    * generalization (grep-over-the-dictionary, then the ordinary scoring
    * pipeline).
    *
    * Scale shape: the regex runs over the TERM DICTIONARY (vocab-sized,
    * ≪ corpus), never the posting store; a `^literal…`-anchored pattern is
    * additionally pre-pruned by [[literalPrefix]] with a `startsWith` scan
    * predicate. The matched terms then drive the same two-tier resolution
    * as [[query]]: collected `term IN`/`bucket IN` partition-pruned scan
    * under `maxCollectedExpansions`, pure-DataFrame `rlike`-predicate scan
    * over it — and the shared [[scoreCandidates]] tail (tombstone live-df
    * recount, `docFilter` seam, canonical order).
    */
  def regexQuery(idx: InvertedIndex, pattern: String, model: ScoreModel,
      boosts: Seq[Double] = Nil, limit: Int = -1,
      maxCollectedExpansions: Int = 4096,
      docFilter: Option[DataFrame] = None): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val fb = if (boosts.isEmpty) Seq.fill(idx.numFields)(1.0) else boosts
    require(fb.size == idx.numFields, "one boost per field")
    // full-string match: Column.rlike is a FIND, and alternation binds
    // LOOSER than anchors ("^row|raw$" = startsWith(row) OR endsWith(raw)),
    // so the pattern is wrapped in a non-capturing group before anchoring —
    // every branch is then full-string. Caller-supplied inner ^/$ stay
    // valid (they assert the same string boundaries).
    val anchored = "^(?:" + pattern + ")$"
    val prefix = literalPrefix(
      if (pattern.startsWith("^")) pattern else "^" + pattern)
    val dictPred = {
      val r = col("term").rlike(anchored)
      if (prefix.nonEmpty) col("term").startsWith(lit(prefix)) && r else r
    }
    val bucketCol =
      if (idx.termdict.columns.contains("bucket")) col("bucket") else lit(-1)
    val collected = idx.termdict.filter(dictPred)
      .select(col("term"), col("df").cast("long").as("df"),
        bucketCol.cast("int").as("bucket"))
      .limit(maxCollectedExpansions + 1).collect()
    if (collected.length <= maxCollectedExpansions) {
      var rows = collected.toSeq
        .map(r => (0, r.getString(0), r.getString(0), r.getLong(1)))
      val buckets = collected.map(_.getInt(2)).distinct.toSeq
      if (idx.hasTombstones && rows.nonEmpty) {
        val liveDf = liveDfs(idx, rows.map(r => r._3 -> r._4).toMap, buckets)
        rows = rows.flatMap { case (qti, qterm, eterm, _) =>
          liveDf.get(eterm).map(d => (qti, qterm, eterm, d))
        }
      }
      if (rows.isEmpty) return emptyResult(spark)
      val cand = idx.livePostings
        .filter(candidatePredicate(idx, rows.map(_._3).distinct, buckets))
      scoreCandidates(idx, cand,
        rows.toDF("qti", "qterm", "exp_term", "df"), model, fb, 1, limit,
        docFilter)
    } else {
      // over the collect cap: the rlike predicate stays a scan predicate
      // end-to-end (the q40-style non-collected fallback)
      val exp0 = idx.termdict.filter(dictPred)
        .select(lit(0).as("qti"), col("term").as("qterm"),
          col("term").as("exp_term"), col("df").cast("long").as("df"))
      val candPred = {
        val r = col("term").rlike(anchored)
        if (prefix.nonEmpty) col("term").startsWith(lit(prefix)) && r else r
      }
      val cand0 = idx.livePostings.filter(candPred)
      val exp =
        if (idx.hasTombstones) {
          val liveDf = cand0.groupBy(col("term")).agg(sum(col("occ")).as("ldf"))
          exp0.drop("df").join(liveDf, col("exp_term") === col("term"))
            .select(col("qti"), col("qterm"), col("exp_term"),
              col("ldf").as("df"))
        } else exp0
      scoreCandidates(idx, cand0, exp, model, fb, 1, limit, docFilter)
    }
  }

  /** Longest literal prefix of a `^`-anchored regex — the dictionary-scan
    * pre-prune for [[regexQuery]]. Conservative: stops at the first regex
    * metacharacter, drops the last literal when a quantifier follows it
    * (in `^spa*` the `a` is optional, so only `sp` is guaranteed), and
    * returns "" when the pattern has a TOP-LEVEL alternation — a later
    * `|` branch (outside any group or character class) need not share
    * the scanned prefix, so no prefix is guaranteed at all. An unanchored
    * pattern has no guaranteed prefix → "".
    */
  private[graft] def literalPrefix(pattern: String): String = {
    if (!pattern.startsWith("^")) return ""
    // top-level '|' check over the WHOLE pattern: depth counts unescaped
    // '('/')' groups, bracket state tracks '[...]' classes ('|' is literal
    // inside both a class and — for prefix purposes — a group that starts
    // after the prefix)
    var depth = 0; var inClass = false; var j = 1
    while (j < pattern.length) {
      pattern.charAt(j) match {
        case '\\' => j += 1
        case '[' if !inClass => inClass = true
        case ']' if inClass => inClass = false
        case '(' if !inClass => depth += 1
        case ')' if !inClass => depth -= 1
        case '|' if !inClass && depth == 0 => return ""
        case _ =>
      }
      j += 1
    }
    val meta = ".[]{}()*+?|\\^$"
    val sb = new StringBuilder
    var i = 1
    while (i < pattern.length && meta.indexOf(pattern.charAt(i)) < 0) {
      sb += pattern.charAt(i); i += 1
    }
    if (i < pattern.length && "*+?{".indexOf(pattern.charAt(i)) >= 0 &&
        sb.nonEmpty)
      sb.setLength(sb.length - 1)
    sb.toString
  }

  /** WILDCARD term search — the Lucene/Elasticsearch `wildcard` query
    * surface: `?` matches exactly one character, `*` any run (incl. empty),
    * every other character is LITERAL. `s?a*` matches {scan, small, spark}.
    * Implemented as a translation onto [[regexQuery]] (escape regex
    * metacharacters, `*`→`.*`, `?`→`.`), so it inherits the whole regex
    * machinery: dictionary-sized matching (never the posting store),
    * [[literalPrefix]] scan pre-pruning of the run up to the first
    * wildcard, exact-scored variants under ONE slot merged by per-(doc,
    * slot) max, the two-tier collected/scan-predicate plan, tombstone
    * live-df recounts, and the `docFilter` seam.
    */
  def wildcardQuery(idx: InvertedIndex, pattern: String, model: ScoreModel,
      boosts: Seq[Double] = Nil, limit: Int = -1,
      maxCollectedExpansions: Int = 4096,
      docFilter: Option[DataFrame] = None): DataFrame =
    regexQuery(idx, wildcardToRegex(pattern), model, boosts, limit,
      maxCollectedExpansions, docFilter)

  /** Wildcard → regex translation for [[wildcardQuery]]: `*`→`.*`, `?`→`.`,
    * every regex metacharacter escaped so it stays literal. The result is
    * an unanchored body ([[regexQuery]] wraps it in `^(?:…)$` itself).
    */
  private[graft] def wildcardToRegex(pattern: String): String = {
    val sb = new StringBuilder
    pattern.foreach {
      case '*' => sb ++= ".*"
      case '?' => sb += '.'
      case c if ".[]{}()+|\\^$".indexOf(c) >= 0 => sb += '\\' += c
      case c => sb += c
    }
    sb.toString
  }

  /** PER-TERM query boosts — the `term^weight` query-string syntax every
    * Lucene-family engine ships (`"s^2.5 merge^0.5 key"`): a term's weight
    * multiplies THAT query term's contribution to the doc score, i.e.
    * `score(doc) = Σ_qti w_qti · max_expansions termScore`. The reference
    * only has per-FIELD boosts (lib.rs `fields_boost`; the `boosts` param
    * here, orthogonal and composable); per-term weighting extends the same
    * formula along the query axis.
    *
    * Implementation: the weight rides the expansion table as a `tboost`
    * column and multiplies the model's expansion boost (`eboost`) before
    * scoring — sound because the weight is CONSTANT across one slot's
    * expansions, so `max(w·s) = w·max(s)` and the per-slot max-merge is
    * unchanged. Models whose scoring has no multiplicative expansion-boost
    * seam (zero-to-one's normalized greedy pass) are rejected loudly.
    * Weights must be > 0 (a zero/negative weight would flip the `score > 0`
    * match predicate and the WAND bound non-negativity). A token whose
    * `^suffix` does not parse as a number is taken literally (it may be an
    * indexed term); a parseable but non-positive weight is an error.
    *
    * Scale shape identical to [[query]]: same two-tier expansion
    * resolution, same pruned scans — the weight table is query-sized and
    * broadcast.
    */
  def boostedQuery(idx: InvertedIndex, queryString: String, model: ScoreModel,
      boosts: Seq[Double] = Nil, limit: Int = -1,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      docFilter: Option[DataFrame] = None): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val fb = if (boosts.isEmpty) Seq.fill(idx.numFields)(1.0) else boosts
    require(fb.size == idx.numFields, "one boost per field")
    val raw = tokenizer(queryString)
    val parsed = raw.map(parseTermBoost)
    val qterms = parsed.zipWithIndex
      .collect { case ((t, _), i) if t.nonEmpty => (i, t) }
    if (qterms.isEmpty) return emptyResult(spark)
    val weights = parsed.zipWithIndex
      .collect { case ((t, w), i) if t.nonEmpty => (i, w) }
    prefixCandExp(idx, qterms, maxCollectedExpansions) match {
      case None => emptyResult(spark)
      case Some((cand, exp)) =>
        val wdf = weights.toSeq.toDF("qti", "tboost")
        scoreCandidates(idx, cand, exp.join(broadcast(wdf), Seq("qti")),
          model, fb, raw.length, limit, docFilter)
    }
  }

  /** `term^weight` parse for [[boostedQuery]]: split at the LAST `^`. No
    * `^`, a leading `^`, or a suffix that is not a number → the whole token
    * is the term at weight 1.0 (it may be a literal indexed term containing
    * `^`). A suffix that IS a number but not finite-positive is a loud
    * error, not a silent weight-1 (a typo like `term^-2` must not change
    * ranking silently).
    */
  private[graft] def parseTermBoost(token: String): (String, Double) = {
    val i = token.lastIndexOf('^')
    if (i <= 0 || i == token.length - 1) return (token, 1.0)
    val suffix = token.substring(i + 1)
    suffix.toDoubleOption match {
      case None => (token, 1.0)
      case Some(w) =>
        require(w > 0.0 && !w.isInfinite,
          s"per-term boost must be a finite positive number: '$token'")
        (token.substring(0, i), w)
    }
  }

  /** SEARCH-AFTER (cursor pagination) — deep paging without the offset
    * blow-up: page N+1 is the top-k of the result set strictly AFTER the
    * cursor `(afterScoreMicro, afterDocId)` in the canonical page order.
    * The production shape for "give me page 400": an `OFFSET 8000` plan
    * must materialize and discard 8000 rows per page; the cursor predicate
    * filters BELOW the top-k sort instead, so every page is the same
    * one-pass `TakeOrderedAndProject` over the pruned candidate scan —
    * page cost is flat in page depth.
    *
    * The cursor lives in MICRO-UNIT space (`round(score·1e6)` as a long,
    * the engine's canonical wire encoding of scores): float cursors don't
    * survive serialization/JSON round-trips, and a client holds the cursor
    * between requests. Page order is therefore (score_micro desc, doc_id
    * asc) — a total order, so pages tile the result set exactly: no
    * overlap, no gap, stable across re-execution. First page = cursor
    * `(Long.MaxValue, Long.MinValue)`. Composes with `docFilter` like
    * every other surface. Returns `(doc_id, score)` with the page's
    * ordering.
    */
  def searchAfter(idx: InvertedIndex, queryString: String, model: ScoreModel,
      afterScoreMicro: Long, afterDocId: Long, k: Int,
      boosts: Seq[Double] = Nil, maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      docFilter: Option[DataFrame] = None): DataFrame = {
    require(k > 0, "searchAfter needs a positive page size")
    val sm = round(col("score") * lit(1e6)).cast("long")
    query(idx, queryString, model, boosts, limit = -1,
        maxCollectedExpansions, tokenizer, docFilter = docFilter)
      .withColumn("_sm", sm)
      .filter(col("_sm") < lit(afterScoreMicro) ||
        (col("_sm") === lit(afterScoreMicro) && col("doc_id") > lit(afterDocId)))
      .orderBy(col("_sm").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("score"))
  }

  /** The MATCH SET of a query: distinct live `doc_id`s containing at least
    * one expansion of at least one query term — exactly the doc set
    * [[query]] scores, without the scoring. Same two-tier resolution
    * (collected bucket/term-IN pruned scan; `startsWith` fallback).
    */
  def matchedDocs(idx: InvertedIndex, queryString: String,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw): DataFrame = {
    val spark = idx.postings.sparkSession
    def none = emptyFrame(spark, "doc_id" -> LongType)
    val raw = tokenizer(queryString)
    val qterms = raw.zipWithIndex.collect { case (t, i) if t.nonEmpty => (i, t) }
    if (qterms.isEmpty) return none
    val cand = resolveExpansionsCollected(idx, qterms,
        maxCollectedExpansions) match {
      case Some((rows, buckets)) =>
        if (rows.isEmpty) return none
        idx.livePostings.filter(
          candidatePredicate(idx, rows.map(_._3).distinct, buckets))
      case None =>
        idx.livePostings.filter(qterms
          .map { case (_, t) => col("term").startsWith(lit(t)) }
          .reduce(_ || _))
    }
    cand.select(col("doc_id")).distinct()
  }

  /** BOOLEAN NOT (exclusion) as a derived [[query]] `docFilter` — the third
    * leg of the boolean algebra next to the default disjunction and
    * [[conjunctiveFilter]] (AND): the query's match set MINUS the exclusion
    * query's match set (`-term` / `must_not` in search-syntax terms; the
    * reference engine is disjunction-only, so this is a pure extension).
    * Both sides are [[matchedDocs]] — the same two-tier resolution and
    * bucket/term-pruned scans the scoring paths use — composed with one
    * anti-join. `query(q, m, docFilter = Some(exclusionFilter(idx, q, ex)))`
    * is the NOT query, and the same frame drops into [[BlockMaxTopK.query]]
    * unchanged: removing docs can only lower the true top-k threshold the
    * θ-probe seeds (the probe scores allowed docs only, via the shared
    * `scoreCandidates` seam), so WAND pruning stays sound exactly as for
    * filtered search.
    *
    * Scale shape: two term-pruned scans (never the full posting store) and
    * one anti-join on the query's own match set — bounded by the query
    * terms' df, not corpus size. An exclusion query with no live expansion
    * excludes nothing (NOT of an unmatched term is a no-op).
    */
  def exclusionFilter(idx: InvertedIndex, queryString: String,
      excludeQuery: String, maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw): DataFrame =
    matchedDocs(idx, queryString, maxCollectedExpansions, tokenizer)
      .join(matchedDocs(idx, excludeQuery, maxCollectedExpansions, tokenizer),
        Seq("doc_id"), "left_anti")

  /** Full BOOLEAN query — the four-clause `bool` composition (search-syntax
    * `must` / `should` / `must_not` / `filter`) in one call, built ENTIRELY
    * from the existing seams so it adds no new plan shape:
    *
    *  - SCORING: the ordinary disjunctive [[query]] over the concatenation
    *    `must ++ should` — every clause term occupies its own query-term
    *    slot, so must terms contribute to the score exactly like should
    *    terms (the standard bool-query rule: `must` restricts AND scores).
    *  - `must`: every must term slot matched (any expansion) —
    *    [[conjunctiveFilter]] over the must string alone.
    *  - `must_not`: the exclusion's match set anti-joined off —
    *    [[matchedDocs]], as in [[exclusionFilter]].
    *  - `filter` (`docFilter`): an arbitrary allowed-doc frame (attribute
    *    predicates, a phrase filter, another bool…) — unscored, semi-joined.
    *
    * All clause frames compose through the ONE `docFilter` seam, so the
    * result drops into [[BlockMaxTopK.query]] unchanged and WAND pruning
    * stays sound (restricting the doc set only lowers the true θ; the
    * probe seeds from allowed docs only). Scale shape: each clause is the
    * same term-pruned scan its standalone operator uses — bounded by its
    * terms' df, never corpus size — plus one semi/anti join each.
    *
    * At least one of `must` / `should` must be non-empty (something has to
    * produce candidates); empty `mustNot` and `docFilter = None` are no-ops.
    */
  def boolQuery(idx: InvertedIndex, model: ScoreModel,
      must: String = "", should: String = "", mustNot: String = "",
      boosts: Seq[Double] = Nil, limit: Int = -1,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      docFilter: Option[DataFrame] = None): DataFrame = {
    val hasMust = tokenizer(must).exists(_.nonEmpty)
    val hasShould = tokenizer(should).exists(_.nonEmpty)
    require(hasMust || hasShould,
      "boolQuery needs a non-empty must or should clause")
    val scoredQuery = s"$must $should".trim
    var allowed: Option[DataFrame] = docFilter
    if (hasMust) {
      val conj = conjunctiveFilter(idx, must, maxCollectedExpansions, tokenizer)
      allowed = Some(allowed.fold(conj) { f =>
        require(f.columns.contains("doc_id"), "docFilter needs a doc_id column")
        conj.join(f.select(col("doc_id")), Seq("doc_id"), "left_semi")
      })
    }
    if (tokenizer(mustNot).exists(_.nonEmpty)) {
      val base = allowed.getOrElse(
        matchedDocs(idx, scoredQuery, maxCollectedExpansions, tokenizer))
      allowed = Some(base.join(
        matchedDocs(idx, mustNot, maxCollectedExpansions, tokenizer),
        Seq("doc_id"), "left_anti"))
    }
    query(idx, scoredQuery, model, boosts, limit, maxCollectedExpansions,
      tokenizer, docFilter = allowed)
  }

  /** FACET COUNTS over a query's match set — the results-page sidebar
    * ("source: src1 (12), src2 (7), …"): for each value of `facetCol`
    * among matching documents, the matching-doc count. One term-pruned
    * posting scan → distinct → semi-join into a column-pruned (id, facet)
    * projection of `docs` → one narrow groupBy whose cardinality is the
    * facet domain. Returns `(facet, n_docs)`, ordered (n_docs desc, facet
    * asc).
    */
  def facetCounts(idx: InvertedIndex, docs: DataFrame, docIdCol: String,
      facetCol: String, queryString: String,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw): DataFrame =
    docs.select(col(docIdCol).cast("long").as("doc_id"),
        col(facetCol).as("facet"))
      .join(matchedDocs(idx, queryString, maxCollectedExpansions, tokenizer),
        Seq("doc_id"), "left_semi")
      .groupBy(col("facet")).agg(count(lit(1)).as("n_docs"))
      // asc_nulls_last: a nullable facet column must tie-break like the
      // external SQL oracle (DuckDB default NULLS LAST), not Spark's
      // default NULLS FIRST
      .orderBy(col("n_docs").desc, col("facet").asc_nulls_last)

  /** NUMERIC HISTOGRAM over a query's match set — [[facetCounts]]' sibling
    * for continuous attributes (the results-page "length / size / date"
    * bar chart, the `histogram` aggregation in search-API terms): matching
    * docs bucketed into fixed-width bins of `value`, one count per bin.
    * `value` is any column expression over `docs` (an attribute, a
    * computed length, an epoch), `bin = floor(value / binWidth)`; empty
    * bins are absent (sparse output — at 100 TB a dense fill would
    * materialize the domain, the caller can densify k rows driver-side).
    * Matching docs whose `value` is null are DROPPED (the search-API
    * missing-value rule), so every emitted bin id is non-null and
    * driver-side densification is safe.
    *
    * Plan shape: the match set's term-pruned scan, one semi-join into a
    * column-pruned `(id, value)` projection, one narrow groupBy whose
    * cardinality is the bin count. Returns `(bin, n_docs)` ordered bin asc.
    */
  def histogram(idx: InvertedIndex, docs: DataFrame, docIdCol: String,
      value: org.apache.spark.sql.Column, binWidth: Double,
      queryString: String, maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    docs.select(col(docIdCol).cast("long").as("doc_id"),
        floor(value.cast("double") / lit(binWidth)).cast("long").as("bin"))
      .filter(col("bin").isNotNull)
      .join(matchedDocs(idx, queryString, maxCollectedExpansions, tokenizer),
        Seq("doc_id"), "left_semi")
      .groupBy(col("bin")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bin").asc)
  }

  /** SIGNIFICANT TERMS over a query's match set — the "what's different
    * about these results" aggregation (search-API `significant_terms`):
    * for each term appearing in matching documents, how over-represented
    * it is vs the background corpus, scored by LIFT
    * `(fg_df / fg_n) / (bg_df / bg_n)` over DOC counts (fg = matching
    * docs, bg = all live docs). A term every doc contains scores ≈ 1; a
    * term concentrated in the match set scores up to `bg_n / fg_n`.
    * Returns the top `topN` by (score desc, term asc) as
    * `(term, fg_df, bg_df, score)`; `minDocCount` suppresses
    * one-off noise terms (lift is maximal for a term in a single matching
    * doc, so a floor is the standard knob).
    *
    * The score is ONE f64 multiply-and-divide over the four counts, each
    * cast to double FIRST — doc counts are exactly representable below
    * 2^53, so at any realistic corpus the products are exact and external
    * recomputation is bit-identical (multiplying the longs first would
    * silently wrap past 2^63 at ~10^10 docs), and beyond 2^53 the products
    * merely round instead of overflowing.
    *
    * Plan shape: the match set's term-pruned scan; fg term counts from a
    * semi-join of the posting store against the match set (one row per
    * (term, doc) ⇒ `count(1)` IS the doc count), partial-aggregated
    * map-side; bg term counts are a full posting-store scan + vocab-sized
    * aggregate — the honest cost of a corpus-background statistic (a
    * deployment serving many such aggregations computes bg ONCE per index
    * generation and reuses it; it is exactly a doc-counted `termdict`).
    * The two 1-row totals ride as broadcast cross joins, so the whole
    * aggregation is one job with no driver action.
    */
  def significantTerms(idx: InvertedIndex, queryString: String, topN: Int,
      minDocCount: Long = 1L, maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw): DataFrame = {
    require(topN > 0, "topN must be positive")
    // the fg match set feeds TWO aggregates (fg_n and the posting
    // semi-join): persist so the term-pruned match scan runs once —
    // query-scoped intermediate, released by the ContextCleaner when the
    // result frame is dropped (the BlockMaxTopK docFilter idiom)
    val fg = matchedDocs(idx, queryString, maxCollectedExpansions, tokenizer)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fgN = fg.agg(count(lit(1)).as("fg_n"))
    val bgN = idx.liveDocstats.agg(count(lit(1)).as("bg_n"))
    val fgDf = idx.livePostings.join(fg, Seq("doc_id"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("fg_df"))
    val bgDf = idx.livePostings
      .groupBy(col("term")).agg(count(lit(1)).as("bg_df"))
    fgDf.join(bgDf, Seq("term"))
      .crossJoin(broadcast(fgN)).crossJoin(broadcast(bgN))
      .filter(col("fg_df") >= lit(minDocCount))
      .withColumn("score",
        (col("fg_df").cast("double") * col("bg_n").cast("double")) /
        (col("fg_n").cast("double") * col("bg_df").cast("double")))
      .orderBy(col("score").desc, col("term").asc)
      .limit(topN)
      .select(col("term"), col("fg_df"), col("bg_df"), col("score"))
  }

  /** TERM VECTORS: per-document term statistics for a (small) set of docs
    * — each live `(doc_id, term)` with the doc-local occurrence count and
    * the term's LIVE corpus df (the search-API `termvectors` endpoint; the
    * raw material [[moreLikeThis]] ranks its seed terms from, exposed as a
    * first-class result). Returns `(doc_id, term, occ, df)` ordered
    * (doc_id, term).
    *
    * Scale shape: the docs' posting rows come from ONE `doc_id IN` scan
    * whose OUTPUT is bounded by Σ doc distinct-term counts — but the scan
    * itself reads the store (it's partitioned by TERM bucket; doc point
    * lookups are the one access that layout doesn't index — a deployment
    * serving high-rate termvectors would add a doc-keyed projection).
    * The df recount IS bucket-partition-pruned to exactly those terms'
    * buckets. The term set transits the driver (bounded by doc LENGTH ×
    * #docs, not corpus), same as [[moreLikeThis]]'s seed stage.
    */
  def termVectors(idx: InvertedIndex, docIds: Seq[Long]): DataFrame = {
    val spark = idx.postings.sparkSession
    def none = emptyFrame(spark, "doc_id" -> LongType, "term" -> StringType,
      "occ" -> LongType, "df" -> LongType)
    if (docIds.isEmpty) return none
    import spark.implicits._
    // the unpruned doc-point-lookup scan runs ONCE: its output is bounded
    // by Σ doc distinct-term counts (the same magnitude the term set
    // already transits the driver at), so collect it and rebuild a local
    // frame — evaluating it lazily again in the final join would re-scan
    // the full posting store a second time for no information gain
    val rows = idx.livePostings.filter(col("doc_id").isin(docIds: _*))
      .select(col("doc_id"), col("term"), col("occ").cast("long").as("occ"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    if (rows.isEmpty) return none
    val terms = rows.map(_._2).distinct
    val bucketCol =
      if (idx.termdict.columns.contains("bucket")) col("bucket") else lit(-1)
    val buckets = idx.termdict.filter(col("term").isin(terms: _*))
      .select(bucketCol.cast("int")).collect().map(_.getInt(0)).distinct.toSeq
    val dfs = idx.livePostings
      .filter(candidatePredicate(idx, terms, buckets))
      .groupBy(col("term")).agg(sum(col("occ")).as("df"))
    dfs.join(broadcast(rows.toDF("doc_id", "term", "occ")), Seq("term"))
      .select(col("doc_id"), col("term"), col("occ"), col("df"))
      .orderBy(col("doc_id").asc, col("term").asc)
  }

  /** MORE-LIKE-THIS: find documents similar to `docId`, by using the doc's
    * own most SALIENT terms as the query. Salience = `occ × idf` (total
    * occurrences in the doc × the BM25 idf over the live df — tf-idf, the
    * standard MLT term selector); the top `topTerms` by (weight desc, term
    * asc) become the query string in rank order, scored by `model` through
    * the normal [[query]] path (prefix semantics, corpus-level stats),
    * with the seed doc itself excluded from the result.
    *
    * Scale shape: the seed doc's posting rows are one partition-pruned
    * point lookup (`doc_id = …` on the scan [the doc's terms' rows],
    * bounded by the doc's distinct-term count), the df lookup for those
    * terms another; both collect driver-side sets bounded by DOC length,
    * never corpus size. The query itself is then an ordinary [[query]].
    */
  def moreLikeThis(idx: InvertedIndex, docId: Long, model: ScoreModel,
      topTerms: Int = 5, limit: Int = -1,
      maxCollectedExpansions: Int = 4096): DataFrame = {
    val spark = idx.postings.sparkSession
    val stats = idx.fieldStats()
    def none = emptyFrame(spark, "doc_id" -> LongType, "score" -> DoubleType)
    require(topTerms > 0, "topTerms must be positive")
    // the seed doc's terms + occurrence counts (bounded by doc length)
    val docTerms = idx.livePostings.filter(col("doc_id") === lit(docId))
      .select(col("term"), col("occ").cast("long").as("occ"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (docTerms.isEmpty) return none
    // live df for exactly those terms (tombstone-correct, like every
    // query path); bucket pruning via the dictionary lookup
    val terms = docTerms.map(_._1).toSeq
    val bucketCol =
      if (idx.termdict.columns.contains("bucket")) col("bucket") else lit(-1)
    val buckets = idx.termdict.filter(col("term").isin(terms: _*))
      .select(bucketCol.cast("int")).collect().map(_.getInt(0)).distinct.toSeq
    val dfMap = idx.livePostings
      .filter(candidatePredicate(idx, terms, buckets))
      .groupBy(col("term")).agg(sum(col("occ")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = stats.n.toDouble
    val top = docTerms.flatMap { case (t, occ) =>
      dfMap.get(t).map { df =>
        val f = math.min(n, df.toDouble)
        (t, occ.toDouble * math.log(1.0 + (n - f + 0.5) / (f + 0.5)))
      }
    }.sortBy { case (t, w) => (-w, t) }.take(topTerms)
    if (top.isEmpty) return none
    val res = query(idx, top.map(_._1).mkString(" "), model,
        maxCollectedExpansions = maxCollectedExpansions)
      .filter(col("doc_id") =!= lit(docId))
      .orderBy(col("score").desc, col("doc_id").asc)
    if (limit > 0) res.limit(limit) else res
  }

  /** Spelling suggestion ("did you mean"): for each input term, the live
    * dictionary term within Levenshtein ≤ `maxEdits`, ranked by
    * (edit distance asc, df desc, term asc) — an exact hit suggests
    * itself; terms with no candidate are dropped. Output:
    * `(qterm, suggestion, df)`.
    *
    * Built on the SAME fuzzy resolution the query paths use (length-window
    * dictionary prefilter + broadcast `levenshtein` join, live-df recount
    * under tombstones; pass `dict` = [[graft.index.IndexCatalog
    * .fuzzyCandidateDict]] for the persisted variant-table point-lookup
    * plan). Candidate sets are per-term tiny, so ranking happens on the
    * driver under the collected cap; over the cap the same ranking runs as
    * a window over the DataFrame fallback plan.
    */
  def suggest(idx: InvertedIndex, terms: Seq[String], maxEdits: Int = 1,
      maxCollectedExpansions: Int = 4096,
      dict: Option[DataFrame] = None): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val qterms = terms.filter(_.nonEmpty).distinct.zipWithIndex
      .map { case (t, i) => (i, t) }
    def none = emptyFrame(spark, "qterm" -> StringType,
      "suggestion" -> StringType, "df" -> LongType)
    if (qterms.isEmpty) return none
    resolveFuzzyCollected(idx, qterms, maxEdits, maxCollectedExpansions,
        dict) match {
      case Some((rows, _)) =>
        if (rows.isEmpty) return none
        rows.groupBy(_._2).view.mapValues(
            _.minBy { case (_, _, e, df, ed) => (ed, -df, e) })
          .values.toSeq
          .map { case (_, q, e, df, _) => (q, e, df) }
          .sortBy(_._1)
          .toDF("qterm", "suggestion", "df")
      case None =>
        val qdf = qterms.toDF("qti", "qterm")
        val cand = idx.termdict.filter(fuzzyLenWindow(qterms, maxEdits))
          .join(broadcast(qdf),
            levenshtein(col("term"), col("qterm")) <= maxEdits)
          .select(col("qterm"), col("term").as("suggestion"),
            col("df").cast("long").as("df"),
            levenshtein(col("term"), col("qterm")).as("edist"))
        val live =
          if (idx.hasTombstones) {
            val liveDf = idx.livePostings
              .join(cand.select(col("suggestion")).distinct(),
                col("term") === col("suggestion"), "left_semi")
              .groupBy(col("term")).agg(sum(col("occ")).as("ldf"))
            cand.drop("df").join(liveDf, col("suggestion") === col("term"))
              .select(col("qterm"), col("suggestion"),
                col("ldf").as("df"), col("edist"))
          } else cand
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qterm"))
          .orderBy(col("edist").asc, col("df").desc, col("suggestion").asc)
        live.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .select(col("qterm"), col("suggestion"), col("df"))
          .orderBy(col("qterm"))
    }
  }

  /** Cheap dictionary prefilter for fuzzy resolution: only terms whose
    * CHARACTER length sits within `maxEdits` of some query term's can be
    * within `maxEdits` edits of it. Keeps the dictionary scan from running
    * `levenshtein` against every row.
    */
  private def fuzzyLenWindow(qterms: Seq[(Int, String)], maxEdits: Int): Column =
    qterms.map { case (_, t) =>
      length(col("term")).between(t.length - maxEdits, t.length + maxEdits)
    }.reduce(_ || _)

  /** Fuzzy analog of [[resolveExpansionsCollected]]: rows are
    * `(qti, qterm, exp_term, LIVE df, editDistance)`. Same collect cap,
    * same tombstone live-df recount, same df>0 drop — shared with
    * [[BlockMaxTopK]] so the WAND and exhaustive fuzzy plans cannot drift.
    */
  private[graft] def resolveFuzzyCollected(idx: InvertedIndex,
      qterms: Seq[(Int, String)], maxEdits: Int, cap: Int,
      dict: Option[DataFrame] = None): Option[(Seq[(Int, String, String, Long, Int)], Seq[Int])] = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val qdf = qterms.toSeq.toDF("qti", "qterm")
    val d0 = dict.getOrElse(idx.termdict)
    val bucketCol = if (d0.columns.contains("bucket")) col("bucket") else lit(-1)
    val collected = d0.filter(fuzzyLenWindow(qterms, maxEdits))
      .join(broadcast(qdf), levenshtein(col("term"), col("qterm")) <= maxEdits)
      .select(col("qti"), col("qterm"), col("term").as("exp_term"),
        col("df").cast("long").as("df"), bucketCol.cast("int").as("bucket"),
        levenshtein(col("term"), col("qterm")).as("edist"))
      .limit(cap + 1).collect()
    if (collected.length > cap) return None
    var rows = collected.toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getInt(5)))
    val buckets = collected.map(_.getInt(4)).distinct.toSeq
    if (idx.hasTombstones && rows.nonEmpty) {
      val liveDf = liveDfs(idx, rows.map(r => r._3 -> r._4).toMap, buckets)
      rows = rows.flatMap { case (qti, qterm, eterm, _, ed) =>
        liveDf.get(eterm).map(d => (qti, qterm, eterm, d, ed))
      }
    }
    Some((rows, buckets))
  }

  /** Posting-scan predicate for a resolved expansion set: `term IN (…)`,
    * plus `bucket IN (…)` when both sides carry the hash-bucket column —
    * partition pruning on a persisted index.
    */
  private[graft] def candidatePredicate(idx: InvertedIndex,
      eterms: Seq[String], buckets: Seq[Int]): Column = {
    val termPred = col("term").isin(eterms: _*)
    if (idx.postings.columns.contains("bucket") && buckets.nonEmpty &&
        buckets.forall(_ >= 0))
      col("bucket").isin(buckets: _*) && termPred
    else termPred
  }

  /** Expansion resolution against the dictionary (reference expand_term),
    * COLLECTED to the driver — the shared phase-0 of the exhaustive
    * collected path and [[BlockMaxTopK]], so the two plans can never
    * drift in expansion/df semantics.
    *
    * Returns None when the expansion set exceeds `cap` (callers keep
    * their non-collected fallback). Otherwise
    * `(rows = (qti, qterm, exp_term, LIVE df), dictionary buckets)`:
    * under tombstones the dictionary df still counts removed docs, so it
    * is brought down to the live df ([[liveDfs]]; the reference's
    * count_documents skips removed pointers at query time,
    * reference src/index.rs:281-297) and terms whose live df hits 0
    * drop out — the reference's df>0 guard. `buckets` covers ALL matching
    * dictionary terms (a superset after the drop — sound for scan pruning).
    *
    * Jobs: one dictionary scan ([[dictionaryRows]]), plus one under
    * driver-held tombstones.
    */
  private[graft] def resolveExpansionsCollected(idx: InvertedIndex,
      qterms: Seq[(Int, String)],
      cap: Int): Option[(Seq[(Int, String, String, Long)], Seq[Int])] = {
    val prefixPred = qterms.map { case (_, t) => col("term").startsWith(lit(t)) }.reduce(_ || _)
    dictionaryRows(idx, prefixPred, cap).flatMap { dict =>
      // the prefix match on the driver: UTF-8 byte-prefix (Spark's
      // startsWith) ≡ code-unit prefix for the tokenizer's strings
      val rows = for {
        (term, df, _) <- dict
        (qti, qt) <- qterms if term.startsWith(qt)
      } yield (qti, qt, term, df)
      if (rows.length > cap) None
      else {
        val buckets = dict.map(_._3).distinct
        val live = liveDfs(idx, dict.map(d => d._1 -> d._2).toMap, buckets)
        Some((rows.flatMap { case (qti, qt, term, _) =>
          live.get(term).map(d => (qti, qt, term, d)) }, buckets))
      }
    }
  }

  /** The dictionary rows `(term, df, bucket)` matching `pred`, df summed
    * over the stored dictionary parts (base plus append deltas,
    * [[InvertedIndex.dictParts]]): every part scanned by ONE job, the sum
    * done on the driver — no union-groupBy shuffle. None when more than
    * `cap` distinct terms match. A part holds one row per term, so each
    * partition sends back at most `cap + 1` rows: a partition that was cut
    * alone shows more than `cap` distinct terms.
    */
  private def dictionaryRows(idx: InvertedIndex, pred: Column,
      cap: Int): Option[Seq[(String, Long, Int)]] = {
    val parts = if (idx.dictParts.nonEmpty) idx.dictParts else Seq(idx.termdict)
    val matching = parts.map { p =>
      val bucketCol = if (p.columns.contains("bucket")) col("bucket") else lit(-1)
      p.filter(pred).select(col("term"), col("df").cast("long").as("df"),
        bucketCol.cast("int").as("bucket"))
    }.reduce(_.union(_))
    val dict = DriverAgg.collectCapped(matching, math.min(cap.toLong + 1, Int.MaxValue).toInt)
      .groupMapReduce(_.getString(0))(r => (r.getLong(1), r.getInt(2)))((a, b) => (a._1 + b._1, a._2))
    if (dict.size > cap) None
    else Some(dict.toSeq.map { case (t, (df, b)) => (t, df, b) })
  }

  /** Live (tombstone-excluded) df for dictionary terms given their
    * dictionary df; terms left with no live posting are dropped. With
    * driver-held tombstones the live df is the dictionary df MINUS the
    * tombstoned docs' `occ` — one term/bucket-pruned scan of just those
    * docs' postings, summed on the driver. Otherwise the occurrence recount
    * over the live postings the reference does at query time
    * (reference src/index.rs:281-297). The subtraction rests on the
    * catalog invariant dictionary df = Σ occ over the posting store
    * (CatalogInvariantProps).
    */
  private[graft] def liveDfs(idx: InvertedIndex, dictDf: Map[String, Long],
      buckets: Seq[Int]): Map[String, Long] =
    if (!idx.hasTombstones || dictDf.isEmpty) dictDf
    else {
      val terms = dictDf.keys.toSeq
      val scan = idx.postings.filter(candidatePredicate(idx, terms, buckets))
      if (idx.tombstoneIds.isDefined) {
        val gone = DriverAgg.sumsByKey(
          scan.filter(idx.tombstoned), "term", "occ")
        dictDf.map { case (t, d) => t -> (d - gone.getOrElse(t, 0L)) }.filter(_._2 > 0)
      } else
        idx.withoutTombstoned(scan)
          .groupBy(col("term")).agg(sum(col("occ")).as("ldf"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  /** Most distinct terms a literal expansion lookup carries: the literal
    * ships inside each stage's task binary.
    */
  private val MaxLiteralExpansionTerms = 4096

  /** Candidate postings (a `term` column) joined to an expansion table on
    * `term = exp_term`. An expansion table the driver already holds — a
    * local relation, which is what every collected resolution and each
    * model's [[ScoreModel.expansionColumns]] over it plan to — is
    * collected without a job and rides INTO the posting scan as a literal
    * hash table: slot `pmod(xxhash64(term), slots)` of a literal array
    * holds an `exp_term → array<row>` map of the few terms hashing there,
    * looked up and exploded per posting. The rows of the hash join,
    * without broadcasting data the driver holds. Any other table, or one
    * over more than [[MaxLiteralExpansionTerms]] terms, is
    * broadcast-hash-joined.
    */
  private[graft] def joinExpansions(cand: DataFrame, exp: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def hashJoin = cand.join(broadcast(exp), col("term") === col("exp_term"))
    if (!exp.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) return hashJoin
    val byTerm = exp.collect().toSeq.groupBy(_.getAs[String]("exp_term"))
    if (byTerm.size > MaxLiteralExpansionTerms) return hashJoin
    val slots = math.max(byTerm.size, 1)
    // the slot of each term with Spark's own xxhash64 (seed 42, as the
    // xxhash64 column function below)
    def slot(t: String) = Math.floorMod(
      new XxHash64(Seq(Literal(t))).eval().asInstanceOf[Long], slots.toLong).toInt
    val table = Seq.tabulate(slots)(_ => Map.empty[String, Seq[Row]]).toArray
    byTerm.foreach { case (t, rows) => val i = slot(t); table(i) = table(i) + (t -> rows) }
    val tableType = ArrayType(MapType(StringType, ArrayType(exp.schema)))
    val lookup = org.apache.spark.sql.graftbridge.toColumn(Literal(
      CatalystTypeConverters.createToCatalystConverter(tableType)(table.toSeq), tableType))
    cand.withColumn("_exp", explode(
        lookup(pmod(xxhash64(col("term")), lit(slots.toLong)).cast("int"))(col("term"))))
      .select(cand.columns.toIndexedSeq.map(col) ++ exp.columns.map(c => col("_exp").getField(c).as(c)): _*)
  }

  /** Score a candidate-postings DataFrame against a resolved expansion set:
    * the shared tail of the exhaustive path and [[BlockMaxTopK]].
    *
    * `docFilter` (FILTERED SEARCH — "search within a subset", the standard
    * predicate+top-k production shape): a one-column `doc_id` set of
    * allowed documents, semi-joined against the candidates AFTER term
    * pruning and BEFORE scoring, so excluded docs are never scored. Stats
    * (idf, avgdl, df) stay CORPUS-level — per-doc scores are therefore
    * identical to the unfiltered query's (pinned by FilteredSearchSpec),
    * which is what makes result pages stable as a user adds/removes
    * facets. Because this is the one scoring seam shared by every path,
    * the WAND θ-probe scores only allowed docs (θ stays a true attainable
    * score — pruning remains sound) and survivor decodes are filtered
    * too. At scale the semi-join runs AFTER bucket/partition pruning (the
    * big side is already cut to the query's terms) and AQE broadcasts a
    * small filter set; for an extremely selective filter over a hot term,
    * pre-filtering the corpus and indexing the subset is the better plan —
    * this operator serves the ad-hoc facet case.
    */
  private[graft] def scoreCandidates(idx: InvertedIndex, cand: DataFrame,
      exp: DataFrame, model: ScoreModel, fb: Seq[Double], qlenRaw: Int,
      limit: Int, docFilter: Option[DataFrame] = None): DataFrame = {
    val cand1 = docFilter.fold(cand) { f =>
      require(f.columns.contains("doc_id"), "docFilter needs a doc_id column")
      cand.join(f.select(col("doc_id")), Seq("doc_id"), "left_semi")
    }
    val stats = idx.fieldStats()
    val expCols = {
      val ec = model.expansionColumns(exp, stats)
      // per-term weights (boostedQuery): the slot weight multiplies the
      // model's expansion boost — constant within a slot, so the
      // per-(doc, slot) max-merge is unchanged (max(w·s) = w·max(s))
      if (ec.columns.contains("tboost")) {
        require(ec.columns.contains("eboost"),
          s"per-term boosts need a model with a multiplicative expansion " +
            s"boost (eboost); ${model.getClass.getSimpleName} has none")
        ec.withColumn("eboost", col("eboost") * col("tboost").cast("double"))
      } else ec
    }
    val joined = joinExpansions(cand1, expCols)
    val scored = model.score(joined, stats, fb, qlenRaw, idx.numFields)
      .orderBy(col("score").desc, col("doc_id").asc)
    if (limit > 0) scored.limit(limit) else scored
  }

  /** Reference `expand_term` (/root/reference/src/query.rs:108-147): every
    * indexed term having `term` as prefix and at least one live posting.
    * (The reference's trie-DFS order is insertion-dependent; we canonicalize
    * to lexicographic.)
    */
  def expandTerm(idx: InvertedIndex, term: String): DataFrame =
    liveDict(idx, term).select(col("term")).orderBy(col("term"))

  /** INDEX STATS — the introspection surface every index deployment
    * exposes (`_stats` in search-API terms), over LIVE data only: document
    * count, distinct live vocabulary size, posting rows (distinct
    * (term, doc) pairs), and total token occurrences. One row.
    *
    * Everything is recomputed from the live posting/docstats tables (not
    * read off the dictionary), so the numbers stay correct under
    * tombstones without trusting any cached aggregate; the whole thing is
    * one pass over postings (count + sum + distinct-term) plus the 1-row
    * docstats count, partial-aggregated map-side.
    */
  def indexStats(idx: InvertedIndex): DataFrame = {
    val d = idx.liveDocstats.agg(count(lit(1)).as("n_docs"))
    val p = idx.livePostings.agg(
      countDistinct(col("term")).as("n_terms"),
      count(lit(1)).as("posting_rows"),
      // empty live store: 0, not SQL NULL (fieldStats' coalesce pattern)
      coalesce(sum(col("occ")), lit(0L)).cast("long").as("total_occ"))
    d.crossJoin(broadcast(p))
      .select(col("n_docs"), col("n_terms"), col("posting_rows"),
        col("total_occ"))
  }

  /** Shared live-dictionary resolution under a prefix: occurrence-summed
    * df from the dictionary, recounted from live postings under
    * tombstones, zero-df entries dropped — the ONE definition of "live
    * term" that [[expandTerm]] and [[complete]] must agree on.
    */
  private def liveDict(idx: InvertedIndex, prefix: String): DataFrame = {
    val dict =
      if (idx.hasTombstones)
        idx.livePostings.filter(col("term").startsWith(lit(prefix)))
          .groupBy(col("term")).agg(sum(col("occ")).as("df"))
      else idx.termdict.filter(col("term").startsWith(lit(prefix)))
    dict.filter(col("df") > 0)
  }

  /** COMPLETION SUGGESTER (search-as-you-type): the live dictionary terms
    * under `prefix`, ranked most-frequent first — [[expandTerm]]'s
    * resolution (same live-df recount under tombstones) with the ranking a
    * completion UI needs: (df desc, term asc), cut to `n`. df keeps the
    * index's occurrence-summed semantics (reference `count_documents`
    * counts pointers), so the ranking is "most typed", not "most docs".
    * Returns `(term, df)`.
    *
    * Scale shape: one vocab-sized dictionary scan (never the posting
    * store) + a TakeOrderedAndProject(n) — same cost class as
    * [[suggest]]'s dictionary pass. A deployment serving keystroke-rate
    * completions would snapshot the (tiny) per-prefix top lists; this is
    * the batch/oracle form those snapshots are built from.
    */
  def complete(idx: InvertedIndex, prefix: String, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    require(prefix.nonEmpty, "prefix must be non-empty")
    liveDict(idx, prefix)
      .select(col("term"), col("df").cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(n)
  }

  /** STATS AGGREGATION over a query's match set — the search-API `stats`
    * aggregation ([[histogram]]'s scalar sibling): count / min / max /
    * sum / avg of a numeric attribute over the matching documents, in one
    * row. `value` is any numeric column expression over `docs`; it is
    * evaluated in f64 (for integer-valued attributes below 2^53 every
    * partial sum is exact, so the result is independent of partition
    * order and externally reproducible bit-for-bit; true-float attributes
    * get the usual f64-accumulation caveat).
    *
    * Plan shape: the match set's term-pruned scan, one semi-join into a
    * column-pruned `(id, value)` projection, one 1-row partial+final
    * aggregate. Returns `(n_docs, min_v, max_v, sum_v, avg_v)`.
    */
  def matchStats(idx: InvertedIndex, docs: DataFrame, docIdCol: String,
      value: org.apache.spark.sql.Column, queryString: String,
      maxCollectedExpansions: Int = 4096,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw): DataFrame =
    docs.select(col(docIdCol).cast("long").as("doc_id"),
        value.cast("double").as("v"))
      .join(matchedDocs(idx, queryString, maxCollectedExpansions, tokenizer),
        Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_docs"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"), sum(col("v")).as("sum_v"),
        avg(col("v")).as("avg_v"))
}
