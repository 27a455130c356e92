package graft.score

import org.apache.spark.sql.{Column, DataFrame}

import graft.index.FieldStats

/** Scoring SPI — the Spark-shaped mirror of the reference `ScoreCalculator`
  * trait (/root/reference/src/score/calculator.rs:33-70):
  *
  *  - `before_each` (per-expanded-term precalculation from df and the doc
  *    map) → [[expansionColumns]]: derive extra columns on the tiny
  *    expansion DataFrame, which is then joined to the postings. On a
  *    collected expansion set that frame is a local relation: Catalyst
  *    evaluates the columns once per expansion row on the driver (no job)
  *    and the rows ride into the posting scan as a literal lookup — the
  *    same hoisting the reference does by hand.
  *  - `score` (per posting) + `finalize` (post-pass over the result set) →
  *    [[score]]: take the (postings ⋈ expansions) rows and produce the
  *    final per-document scores. BM25 is pure column arithmetic + two-level
  *    aggregation; zero-to-one needs a holistic per-(doc, field) group
  *    computation, so it owns its whole downstream pipeline.
  */
trait ScoreModel {

  /** Input columns: `qti` (query-term index), `qterm`, `exp_term`, `df`
    * (live occurrence-counted document frequency). Output must keep those
    * and may add model-specific columns.
    */
  def expansionColumns(exp: DataFrame, stats: FieldStats): DataFrame

  /** Input: one row per (live posting, matching expansion) with columns
    * `doc_id, tf: array<int>, fl: array<int>, occ, qti, qterm, exp_term`
    * plus whatever [[expansionColumns]] added. Output: `(doc_id: long,
    * score: double)`, one row per matched doc (unsorted).
    *
    * @param qlenRaw number of query tokens INCLUDING empty ones — the
    *                reference's `query_terms_len`
    *                (/root/reference/src/query.rs:32)
    */
  def score(joined: DataFrame, stats: FieldStats, boosts: Seq[Double],
      qlenRaw: Int, numFields: Int): DataFrame

  /** BATCHED scoring ([[graft.query.QueryEngine.batchQuery]]): like
    * [[score]] but keyed by (query, doc) — input rows additionally carry
    * `qid: long` (query id) and `qlen: int` (that query's raw token count,
    * the per-row generalization of [[score]]'s scalar `qlenRaw`). Output:
    * `(qid: long, doc_id: long, score: double)`. Per-(qid, doc_id) scores
    * MUST equal what [[score]] would produce for that query alone — batch
    * is an execution strategy, never a semantics change (pinned by
    * BatchQuerySpec for both shipped models).
    */
  def scoreBatch(joined: DataFrame, stats: FieldStats, boosts: Seq[Double],
      numFields: Int): DataFrame =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} does not implement batched scoring")

  /** Score EXPLANATION ([[graft.query.QueryEngine.explain]]): per-(doc,
    * query-term) contribution breakdown — for each matched (doc_id, qti),
    * the winning expansion term and its term score, such that the doc's
    * [[score]] equals the sum of its term scores. Input rows are the same
    * (postings ⋈ expansions) frame [[score]] consumes. Output:
    * `(doc_id: long, qti: int, qterm, best_term, term_score: double)`.
    * Ties between expansions are broken (term_score micro-rounded desc,
    * best_term asc) so the winner is deterministic and stable across
    * engines. Only models whose final score decomposes as
    * Σ_queryTerms max_expansions (BM25's merge rule) can implement this;
    * zero-to-one's holistic greedy finalize does not decompose per term.
    */
  def termContributions(joined: DataFrame, stats: FieldStats,
      boosts: Seq[Double], numFields: Int): DataFrame =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} has no per-term score decomposition")

  /** Block-max pruning hook ([[graft.query.BlockMaxTopK]]): an upper bound
    * on the PER-EXPANSION term score of any document in a posting block,
    * as a column over (block metadata `max_tf`/`min_fl: array<int>` ⋈ this model's
    * [[expansionColumns]] output). The engine takes max over a query
    * term's expansions and sums across query terms — mirroring the merge
    * rule — so the per-expansion bound only has to dominate a single
    * expansion's contribution. Return None when no sound metadata-only
    * bound exists; the query falls back to the exhaustive path (the
    * reference query loop is scorer-generic,
    * /root/reference/src/query.rs:21-26, and so is this).
    */
  def blockUpperBound(stats: FieldStats, boosts: Seq[Double], qlenRaw: Int,
      numFields: Int): Option[Column] = None
}
