package graft

import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexCatalog, Mutations, PostingBlocks}
import graft.query.{BlockMaxTopK, QueryEngine}
import graft.score.{BM25, ZeroToOne}

/** Fuzzy (Levenshtein ≤ d) term expansion — the north-star "expanded/fuzzy
  * term matching" axis beyond the reference's prefix semantics. The boost
  * generalizes the reference formula along the axis it already measures
  * (a prefix expansion is `lenDiff` pure insertions = its edit distance),
  * so hand-computed expectations reuse the bm25.rs/zero_to_one.rs math with
  * `editDistance` in place of `len(exp) − len(term)`.
  */
class FuzzySpec extends TestBase {

  private def fuzzyQuery(idx: graft.index.InvertedIndex, q: String,
      model: graft.score.ScoreModel, cap: Int = 4096): Seq[(Long, Double)] =
    QueryEngine.query(idx, q, model, maxCollectedExpansions = cap, maxEdits = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("substitution at distance 1 matches; prefix path does not") {
    val idx = buildTitleIndex(Seq("sort"))
    assert(runQuery(idx, "sart", BM25()).isEmpty) // prefix semantics: nothing
    // N=1, df=1 ⇒ idf = ln(4/3); tf=1, fl=1=avg ⇒ tfn=1; edist=1 ⇒ ln(1.5)
    assertScores(fuzzyQuery(idx, "sart", BM25()),
      Seq((0L, math.log(4.0 / 3.0) * math.log(1.5))))
  }

  test("query-side deletion (exp SHORTER than query) stays finite") {
    // "sorta" → "sort": lenDiff = −1 would blow the prefix formula up;
    // edist = 1 gives the same ln(1.5) boost as any other single edit
    val idx = buildTitleIndex(Seq("sort"))
    assertScores(fuzzyQuery(idx, "sorta", BM25()),
      Seq((0L, math.log(4.0 / 3.0) * math.log(1.5))))
  }

  test("exact match under fuzzy keeps boost 1 (reduces to the prefix score)") {
    val idx = buildTitleIndex(Seq("sort"))
    assertScores(fuzzyQuery(idx, "sort", BM25()), runQuery(idx, "sort", BM25()))
  }

  test("prefix pair at distance 1: fuzzy boost == reference prefix boost") {
    // "sor" → "sort" is one INSERTION: edist = lenDiff = 1, so the two
    // formulas coincide — the generalization axiom this feature rests on
    val idx = buildTitleIndex(Seq("sort"))
    assertScores(fuzzyQuery(idx, "sor", BM25()), runQuery(idx, "sor", BM25()))
  }

  test("multi-expansion max-merge within one query term") {
    // "sart" → {sort, part}, both in the one doc with identical tf/df ⇒
    // max = either; score = idf(1 doc) · tfn(fl=2, avg=2 ⇒ 1.0) · ln(1.5)
    val idx = buildTitleIndex(Seq("sort part"))
    assertScores(fuzzyQuery(idx, "sart", BM25()),
      Seq((0L, math.log(4.0 / 3.0) * math.log(1.5))))
  }

  test("zero-to-one fuzzy entry score is 1 − edist/len(exp)") {
    // entscore = 1 − 1/4 = 0.75; contribution min(.75/1,1)·1/max(1,1)
    val idx = buildTitleIndex(Seq("sort"))
    assertScores(fuzzyQuery(idx, "sart", ZeroToOne()), Seq((0L, 0.75)))
  }

  test("driver and Spark deletion-variant definitions agree") {
    import spark.implicits._
    val terms = Seq("a", "ab", "sort", "abba", "xyzzy")
    val got = terms.toDF("t")
      .select(col("t"), IndexCatalog.deletionVariantsCol(col("t")).as("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    terms.foreach { t =>
      assert(got(t) == IndexCatalog.deletionVariantsDriver(t).toSet,
        s"variant mismatch for '$t'")
    }
  }

  test("over-cap fallback plan scores identically") {
    val idx = buildTitleIndex(Seq("sort part", "key value", "sort key"))
    val collected = fuzzyQuery(idx, "sart kay", BM25())
    val fallback = fuzzyQuery(idx, "sart kay", BM25(), cap = 0)
    assertScores(fallback, collected)
    assert(collected.nonEmpty)
  }

  test("tombstoned docs drop out and df is live-recounted") {
    val full = buildTitleIndex(Seq("sort", "sorts", "part"))
    val masked = Mutations.removeDocuments(full, Seq(1L))
    val rebuilt = buildTitleIndex(Seq("sort", "part")) // ids 0,1 — remap
    val got = fuzzyQuery(masked, "sart", BM25())
    val want = fuzzyQuery(rebuilt, "sart", BM25()).map { case (id, s) => (id, s) }
    // doc 2 ("part") in masked corresponds to doc 1 in rebuilt
    assertScores(got, want.map { case (id, s) => (if (id == 1L) 2L else id, s) })
  }

  test("WAND block path with fuzzy expansion matches exhaustive") {
    val corpus = (0 until 40).map(i =>
      if (i % 3 == 0) s"sort part v$i" else if (i % 3 == 1) s"key sort v$i"
      else s"part value v$i")
    val idx = buildTitleIndex(corpus)
    val blocks = PostingBlocks.fromPostings(idx.postings, 1, 8L)
    val wand = BlockMaxTopK.query(idx, blocks, "sart kay", BM25(), k = 5,
      blockSize = 8L, maxEdits = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exh = QueryEngine.query(idx, "sart kay", BM25(), limit = 5, maxEdits = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assertScores(wand, exh)
    assert(wand.nonEmpty)
  }

  test("persisted variant table: parity, delta coverage, stale-base refusal") {
    val root = s"/tmp/graft_fuzzy_spec_${System.nanoTime()}"
    import spark.implicits._
    val docs = Seq((0L, "sort part"), (1L, "key value"), (2L, "sort key"))
      .toDF("doc_id", "text")
    IndexCatalog.build(docs, "doc_id", Seq("text"), root, nBuckets = 4)
    IndexCatalog.buildFuzzy(spark, root)
    IndexCatalog.buildFuzzy(spark, root) // idempotent re-run
    val idx = IndexCatalog.read(spark, root)
    val brute = fuzzyQuery(idx, "sart kay", BM25())
    val viaTable = QueryEngine.queryFuzzyPersisted(idx, root, "sart kay", BM25())
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assertScores(viaTable, brute)
    assert(viaTable.nonEmpty)

    // appended vocabulary is served through the DELTA path with NO fuzzy
    // rebuild: "zebra" arrives after buildFuzzy; "zebrb" must reach it
    IndexCatalog.addDocuments(Seq((7L, "zebra crossing")).toDF("doc_id", "text"), "doc_id", root)
    val idx2 = IndexCatalog.read(spark, root)
    val viaDelta = QueryEngine.queryFuzzyPersisted(idx2, root, "zebrb", BM25())
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assertScores(viaDelta,
      fuzzyQuery(idx2, "zebrb", BM25()))
    assert(viaDelta.map(_._1) == Seq(7L))

    // a ROLLUP retires the base dictionary generation → refuse until
    // buildFuzzy re-runs (compactDeltasEvery = 1 forces the rollup)
    IndexCatalog.addDocuments(Seq((8L, "quartz vein")).toDF("doc_id", "text"),
      "doc_id", root, compactDeltasEvery = 1)
    val idx3 = IndexCatalog.read(spark, root)
    val ex = intercept[IllegalArgumentException] {
      QueryEngine.queryFuzzyPersisted(idx3, root, "quarts", BM25()).collect()
    }
    assert(ex.getMessage.contains("re-run"))
    IndexCatalog.buildFuzzy(spark, root)
    val afterRebuild = QueryEngine.queryFuzzyPersisted(idx3, root, "quarts", BM25())
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assertScores(afterRebuild, fuzzyQuery(idx3, "quarts", BM25()))
    assert(afterRebuild.map(_._1) == Seq(8L))

    // a vacuum writes a new dictionary generation: refuse until rebuilt
    IndexCatalog.removeDocuments(spark, root, Seq(1L))
    IndexCatalog.vacuum(spark, root)
    val idx4 = IndexCatalog.read(spark, root)
    val ex2 = intercept[IllegalArgumentException] {
      QueryEngine.queryFuzzyPersisted(idx4, root, "sart kay", BM25()).collect()
    }
    assert(ex2.getMessage.contains("re-run"))
    IndexCatalog.buildFuzzy(spark, root)
    assertScores(QueryEngine.queryFuzzyPersisted(idx4, root, "sart kay", BM25())
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      fuzzyQuery(idx4, "sart kay", BM25()))
  }

  test("persisted probe is partition-pruned to the query variants' buckets") {
    val root = s"/tmp/graft_fuzzy_prune_${System.nanoTime()}"
    import spark.implicits._
    val docs = (0 until 64).map(i => (i.toLong, s"term$i sort")).toDF("doc_id", "text")
    IndexCatalog.build(docs, "doc_id", Seq("text"), root, nBuckets = 8)
    IndexCatalog.buildFuzzy(spark, root)
    val qvars = IndexCatalog.deletionVariantsDriver("sart")
    val vbs = qvars.toDF("variant")
      .select(IndexCatalog.bucketOf(col("variant"), 8).as("vb"))
      .distinct().collect().map(_.getInt(0)).toSet
    val plan = spark.read.parquet(s"$root/fuzzydict")
      .filter(col("vbucket").isin(vbs.toSeq: _*) &&
        col("variant").isin(qvars: _*))
      .queryExecution.executedPlan.toString
    // the scan must carry vbucket partition filters (pruned to ≤ |vbs| of 8)
    assert(plan.contains("PartitionFilters") && plan.contains("vbucket"),
      s"no partition pruning in:\n$plan")
  }
}
