package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.index.IndexCatalog
import graft.query.{BlockMaxTopK, QueryEngine}
import graft.score.{BM25, ZeroToOne}
import graft.tools.SourceCodeGen

/** Spark jobs per public call on a persisted index in its common serving
  * state — an append delta generation not yet rolled into the base
  * dictionary, live tombstones — counted by job group. Each job is a fixed driver cost
  * (scheduling, planning, result round trip) paid whatever the data size,
  * so these budgets pin the jobs that move no data out of catalog reads
  * and the shared query path.
  */
class JobBudgetSpec extends TestBase {

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft_budget_").toString
    val docs = SourceCodeGen.generate(spark, 420)
    val fields = Seq("content", "path")
    IndexCatalog.build(docs.filter(col("doc_id") < 400), "doc_id", fields, r, nBuckets = 4)
    IndexCatalog.buildBlocks(spark, r, blockSize = 16)
    IndexCatalog.addDocuments(docs.filter(col("doc_id") >= 400), "doc_id", r)
    IndexCatalog.buildBlocks(spark, r) // folds the delta postings
    IndexCatalog.removeDocuments(spark, r, Seq(3L, 77L, 150L, 404L))
    r
  }

  /** Jobs of a `buildBlocks` fold and of a `vacuum` on this fixture. The
    * per-stage vacuum protocol and separate fold/compaction rewrites that
    * preceded the single-commit vacuum ran 9 and 20.
    */
  private val FoldBudget = 6
  private val VacuumBudget = 15

  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = JobCounter.on(sc).newGroup()
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.graft.BusDrain(sc)
      (out, JobCounter.on(sc).jobs(group))
    } finally sc.clearJobGroup()
  }

  private def ranked(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))

  test("catalog reads and the shared query path stay within their job budgets") {
    val _ = root // built outside the counted calls
    val (idx, readJobs) = jobs(IndexCatalog.read(spark, root))
    assert(idx.tombstoneIds.exists(_.length == 4) && idx.dictParts.size == 2,
      "the serving state under test")
    assert(readJobs <= 2, s"IndexCatalog.read ran $readJobs jobs")
    val ((blocks, bs, rpg), blockJobs) = jobs(IndexCatalog.readBlocks(spark, root))
    assert(blockJobs == 0, s"IndexCatalog.readBlocks ran $blockJobs jobs")

    for (q <- Seq("import", "Modu", "fn ident2 val")) {
      val (exh, exhJobs) = jobs(ranked(QueryEngine.query(idx, q, BM25(), limit = 10).collect()))
      assert(exh.nonEmpty)
      assert(exhJobs <= 5, s"exhaustive top-k '$q' ran $exhJobs jobs")
      val (wand, wandJobs) = jobs(ranked(BlockMaxTopK.query(idx, blocks, q, BM25(), k = 10,
        blockSize = bs, rangesPerGroup = rpg).collect()))
      assert(wand == exh)
      assert(wandJobs <= 11, s"WAND top-k '$q' ran $wandJobs jobs")
      info(s"'$q': exhaustive $exhJobs jobs, WAND $wandJobs")
    }
    val (_, ztoJobs) = jobs(QueryEngine.query(idx, "import", ZeroToOne(), limit = 10).collect())
    assert(ztoJobs <= 5, s"zero-to-one top-k ran $ztoJobs jobs")
    val (_, batchJobs) = jobs(QueryEngine.batchQuery(idx,
      Seq(1L -> "import", 2L -> "Modu", 3L -> "fn ident2 val"), BM25(), k = 10).collect())
    assert(batchJobs <= 8, s"batchQuery ran $batchJobs jobs")
    info(s"read $readJobs, readBlocks $blockJobs, zero-to-one $ztoJobs, batchQuery $batchJobs jobs")
  }

  test("a buildBlocks fold and a vacuum stay within their job budgets") {
    val copy = Files.createTempDirectory("graft_budget_mut_").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(root), new java.io.File(copy))
    IndexCatalog.addDocuments(SourceCodeGen.generate(spark, 440).filter(col("doc_id") >= 420),
      "doc_id", copy)
    val (_, foldJobs) = jobs(IndexCatalog.buildBlocks(spark, copy))
    val (_, vacuumJobs) = jobs(IndexCatalog.vacuum(spark, copy))
    info(s"fold $foldJobs, vacuum $vacuumJobs jobs")
    assert(foldJobs <= FoldBudget, s"buildBlocks fold ran $foldJobs jobs")
    assert(vacuumJobs <= VacuumBudget, s"vacuum ran $vacuumJobs jobs")
    val idx = IndexCatalog.read(spark, copy)
    assert(!idx.hasTombstones)
    val (blocks, bs, rpg) = IndexCatalog.readBlocks(spark, copy)
    for (q <- Seq("import", "fn ident2 val"))
      assert(ranked(BlockMaxTopK.query(idx, blocks, q, BM25(), k = 10,
        blockSize = bs, rangesPerGroup = rpg).collect()) ==
        ranked(QueryEngine.query(idx, q, BM25(), limit = 10).collect()))
  }

  test("a root whose manifest has no schema keys still reads, by inference") {
    val legacy = Files.createTempDirectory("graft_budget_legacy_").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(root), new java.io.File(legacy))
    val manifest = Paths.get(s"$legacy/manifest.json")
    val lines = Files.readAllLines(manifest).toArray.map(_.toString)
    assert(lines.exists(_.contains("\"schema.")), "the catalog records schemas")
    // one `"key": "value"` pair per line
    Files.write(manifest, lines.filterNot(_.contains("\"schema.")).mkString("\n").getBytes("UTF-8"))
    Files.delete(Paths.get(s"$legacy/.manifest.json.crc")) // stale after the edit

    val (pinned, pinnedJobs) = jobs(IndexCatalog.read(spark, root))
    val (inferred, inferredJobs) = jobs(IndexCatalog.read(spark, legacy))
    assert(inferredJobs > pinnedJobs, s"legacy read ran $inferredJobs jobs, pinned $pinnedJobs")
    assert(inferred.postings.schema == pinned.postings.schema)
    assert(inferred.docstats.schema == pinned.docstats.schema)
    for (q <- Seq("import", "Modu ident3"))
      assert(ranked(QueryEngine.query(inferred, q, BM25(), limit = 10).collect()) ==
        ranked(QueryEngine.query(pinned, q, BM25(), limit = 10).collect()))
    val (blocks, bs, rpg) = IndexCatalog.readBlocks(spark, legacy)
    assert(blocks.schema == IndexCatalog.readBlocks(spark, root)._1.schema)
    assert(ranked(BlockMaxTopK.query(inferred, blocks, "import", BM25(), k = 10,
      blockSize = bs, rangesPerGroup = rpg).collect()) ==
      ranked(QueryEngine.query(pinned, "import", BM25(), limit = 10).collect()))
  }
}

/** Jobs started per job group, from ONE listener per SparkContext: the
  * registration guard of the `extraStrategies` idiom — register only if
  * this context does not have it yet — so repeated specs in one JVM never
  * stack listeners.
  */
private final class JobCounter extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Int]
  private var groups = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => byGroup(g) = byGroup.getOrElse(g, 0) + 1)
  }

  def newGroup(): String = synchronized { groups += 1; s"graft-job-budget-$groups" }
  def jobs(group: String): Int = synchronized(byGroup.getOrElse(group, 0))
}

private object JobCounter {
  private var registered: Option[(SparkContext, JobCounter)] = None

  def on(sc: SparkContext): JobCounter = synchronized {
    registered match {
      case Some((c, counter)) if c eq sc => counter
      case _ =>
        val counter = new JobCounter
        sc.addSparkListener(counter)
        registered = Some((sc, counter))
        counter
    }
  }
}
