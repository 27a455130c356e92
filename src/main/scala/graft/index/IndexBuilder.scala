package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer

/** Batch index build — the Spark-native re-expression of the reference's
  * per-document `add_document` mutation loop
  * (/root/reference/src/index.rs:76-158), redesigned as one declarative
  * dataflow:
  *
  * {{{
  *   docs ── project fields ── tokenize (split+filter, narrow)
  *        ── explode (field, term)                     (narrow)
  *        ── groupBy(doc_id, term)  → postings         (shuffle 1: keys are
  *                                                      (doc,term) — dense,
  *                                                      skew-free: a hot
  *                                                      term like "the" is
  *                                                      spread across all
  *                                                      docs)
  *        ── groupBy(term).sum(occ) → termdict         (shuffle 2: hot terms
  *                                                      ARE skewed here, but
  *                                                      this is a pure
  *                                                      partial+final SUM —
  *                                                      map-side combine
  *                                                      collapses each
  *                                                      partition to one row
  *                                                      per term before the
  *                                                      exchange, so the hot
  *                                                      key carries O(#parts)
  *                                                      rows, not O(docs))
  * }}}
  *
  * `docstats` and the global field stats are narrow byproducts of the
  * tokenize projection. The posting rows carry the owning doc's `fl`
  * vector (denormalized) so the query path never joins docstats — at
  * 10^12-doc scale that join would be a second full-table shuffle per query.
  */
object IndexBuilder {

  /** Build an in-memory (Dataset-backed) index.
    *
    * @param docs      input table
    * @param docIdCol  unique long document key (reference key `T`)
    * @param fieldCols indexed text columns, in field order (reference
    *                  `FieldAccessor` list, /root/reference/src/lib.rs:10-11)
    * @param tokenizer column-level tokenizer: text column → array of
    *                  non-empty tokens (reference `Tokenizer` is
    *                  caller-supplied per call, /root/reference/src/lib.rs:13-14;
    *                  defaults to the reference's whitespace split, use e.g.
    *                  [[Analyzer.codeTokensCol]] for source code). Query
    *                  strings must then be tokenized with the matching
    *                  driver-side tokenizer (`QueryEngine.query(…, tokenizer=…)`).
    */
  def build(docs: DataFrame, docIdCol: String, fieldCols: Seq[String],
      tokenizer: Column => Column = Analyzer.tokensCol): InvertedIndex = {
    val spark = docs.sparkSession
    val nf = fieldCols.size
    require(nf > 0, "at least one indexed field")

    // Tokenize every field once, narrow. fl(i) = non-empty token count of
    // field i (reference field_length, /root/reference/src/index.rs:114).
    val tokCols: Seq[Column] =
      fieldCols.zipWithIndex.map { case (f, i) => tokenizer(col(f)).as(s"_toks$i") }
    // Per-field lengths are carried as SCALAR int columns (not an array)
    // through the aggregation: fixed-width agg buffers keep the
    // (doc, term) groupBy inside codegen'd HashAggregate — an array-typed
    // `first()` would demote the whole stage to SortAggregate.
    val flCols = (0 until nf).map(i => size(col(s"_toks$i")).as(s"_fl$i"))
    val base = docs
      .select(col(docIdCol).cast("long").as("doc_id") +: tokCols: _*)
      .select(col("doc_id") +: (0 until nf).map(i => col(s"_toks$i")) :+
        array(flCols: _*).as("fl"): _*)

    val docstats = base.select(col("doc_id"), col("fl"))

    // (doc_id, fl0.., field, term) — one row per token occurrence.
    val fieldArr = array((0 until nf).map(i =>
      struct(lit(i).as("field"), col(s"_toks$i").as("ts"))): _*)
    val tokens = base
      .select(col("doc_id") +:
        (0 until nf).map(i => element_at(col("fl"), i + 1).as(s"_fl$i")) :+
        explode(fieldArr).as("ft"): _*)
      .select(col("doc_id") +: (0 until nf).map(i => col(s"_fl$i")) :+
        col("ft.field").as("field") :+ explode(col("ft.ts")).as("term"): _*)

    // One row per distinct (doc, term): per-field tf vector + occurrence
    // count (reference allocates one DocumentPointer per occurrence,
    // /root/reference/src/index.rs:119; we keep the multiplicity as `occ`).
    val tfCols = (0 until nf).map(i =>
      sum(when(col("field") === i, 1).otherwise(0)).cast("int").as(s"_tf$i"))
    val flFirst = (0 until nf).map(i => first(col(s"_fl$i")).as(s"_ffl$i"))
    val postings = tokens
      .groupBy(col("doc_id"), col("term"))
      .agg((tfCols ++ flFirst).head,
        (tfCols ++ flFirst).tail :+ count(lit(1)).cast("int").as("occ"): _*)
      .select(col("term"), col("doc_id"),
        array((0 until nf).map(i => col(s"_tf$i")): _*).as("tf"),
        array((0 until nf).map(i => col(s"_ffl$i")): _*).as("fl"),
        col("occ"))

    // Occurrence-counted document frequency (see InvertedIndex scaladoc).
    val termdict = postings.groupBy(col("term")).agg(sum(col("occ")).as("df"))

    InvertedIndex(postings, docstats, termdict,
      InvertedIndex.emptyTombstones(spark), nf, hasTombstones = false)
  }
}

/** Incremental mutations. The reference mutates a live structure
  * (`remove_document` / `vacuum`, /root/reference/src/index.rs:160-241); on
  * Spark these become tombstone appends and a compaction rewrite over
  * immutable snapshots.
  */
object Mutations {

  /** Reference `remove_document`: tombstone only; postings stay until
    * vacuum. Stats and df immediately reflect the removal because every
    * read path filters through [[InvertedIndex.liveDocstats]] /
    * [[InvertedIndex.livePostings]] (the reference updates sum/avg eagerly
    * and skips tombstoned pointers at query time,
    * /root/reference/src/index.rs:160-191, /root/reference/src/query.rs:65).
    */
  def removeDocuments(idx: InvertedIndex, ids: Seq[Long]): InvertedIndex = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    removeDocuments(idx, ids.toDF("doc_id"))
  }

  /** DataFrame-native tombstoning: the id set stays distributed end-to-end
    * (a `Seq[Long]` of removals at 10^12-doc scale would have to round-trip
    * through the driver; a predicate-derived DataFrame never does). The
    * first column of `ids` is the doc key.
    */
  def removeDocuments(idx: InvertedIndex, ids: DataFrame): InvertedIndex = {
    val ts = ids.select(col(ids.columns.head).cast("long").as("doc_id"))
    // the live stats and a driver-held id set describe the OLD tombstone
    // set: drop both, so stats are recounted and rows filtered through
    // the grown frame
    idx.copy(
      tombstones = if (idx.hasTombstones) idx.tombstones.union(ts) else ts,
      hasTombstones = true, statsHint = None, tombstoneIds = None)
  }

  /** Reference `vacuum` (/root/reference/src/index.rs:193-241): physically
    * purge tombstoned postings and drop terms left with no postings (the
    * trie-subtree unlink becomes "term disappears from the recomputed
    * dictionary"). A compaction rewrite: anti-join + re-aggregate.
    */
  def vacuum(idx: InvertedIndex): InvertedIndex = {
    val spark = idx.postings.sparkSession
    if (!idx.hasTombstones) return idx
    val postings = idx.livePostings
    val docstats = idx.liveDocstats
    val termdict = postings.groupBy(col("term")).agg(sum(col("occ")).as("df"))
    InvertedIndex(postings, docstats, termdict,
      InvertedIndex.emptyTombstones(spark), idx.numFields, hasTombstones = false)
  }
}
