package graft

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col

import graft.index.IndexCatalog
import graft.query.{BlockMaxTopK, QueryEngine}
import graft.score.BM25

/** Crash-point coverage of the catalog's mutations: `vacuum`, the
  * `buildBlocks` fold and `addDocuments` are each crashed before every
  * rename or delete the catalog makes ([[StepFs]]), then re-run; the
  * index must end where a crash-free run ends — live count, stored
  * dictionary df per term, field stats, exhaustive BM25 top-k, and WAND
  * over the block table equal to exhaustive, at a block geometry
  * (blockSize 8 × rangesPerGroup 2) small enough that each mutation
  * rewrites several `(bucket, rg)` partitions.
  */
class CrashPointSpec extends TestBase {

  private val Queries = Seq("common w1", "t0 u41 x2")
  private val K = 10

  private def corpus(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, s"w${i % 7} common x${i % 13} t${i % 3} u$i")).toDF("id", "body")
  }

  private def tmp(): String = Files.createTempDirectory("graft_crash_").toString

  /** A 40-doc index with its block table, prepared by `setup`, as a local
    * dir to copy per run.
    */
  private def prepared(setup: String => Unit): String = {
    val local = tmp()
    val root = StepFs.root(spark, local)
    IndexCatalog.build(corpus(0L until 40L), "id", Seq("body"), root, nBuckets = 2)
    IndexCatalog.buildBlocks(spark, root, blockSize = 8, rangesPerGroup = 2)
    setup(root)
    local
  }

  private def copyOf(local: String): String = {
    val out = tmp()
    FileUtils.copyDirectory(new java.io.File(local), new java.io.File(out))
    StepFs.root(spark, out)
  }

  private def ranked(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  private case class Signature(live: Long, df: Map[String, Long], n: Long,
      sums: Seq[Long], topK: Seq[Seq[(Long, Double)]], wandEqual: Boolean)

  /** The end state a reader sees, after the fold a serving loop runs
    * before it reads the block table.
    */
  private def signature(root: String): Signature = {
    IndexCatalog.buildBlocks(spark, root)
    val idx = IndexCatalog.read(spark, root)
    val (blocks, bs, rpg) = IndexCatalog.readBlocks(spark, root)
    val exh = Queries.map(q => ranked(QueryEngine.query(idx, q, BM25(), limit = K).collect()))
    val wand = Queries.map(q => ranked(BlockMaxTopK.query(idx, blocks, q, BM25(), k = K,
      blockSize = bs, rangesPerGroup = rpg).collect()))
    val st = idx.fieldStats()
    Signature(idx.liveDocstats.count(),
      idx.termdict.collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap,
      st.n, st.sums.toSeq, exh, wand == exh)
  }

  /** Crash `op` at each of its steps on a fresh copy of `local`, run
    * `recover` after the crash, and compare with a crash-free run. Each
    * crash point has its own root, so three run at a time: on a 40-doc
    * index every Spark job costs mostly its fixed scheduling overhead.
    */
  private def crashEveryStep(local: String, op: String => Unit,
      recover: String => Unit): Unit = {
    val clean = copyOf(local)
    val steps = StepFs.trace(_ => ())(op(clean))
    val want = signature(clean)
    assert(want.wandEqual && want.topK.forall(_.nonEmpty))
    def point(k: Int): Option[String] = {
      val root = copyOf(local)
      if (!StepFs.crashAt(k)(op(root))) return Some(s"step $k: no crash")
      val got = scala.util.Try { recover(root); signature(root) }
      if (got.toOption.contains(want)) None
      else Some(s"step $k: ${got.fold(e => e.toString.take(200), _.toString.take(200))}")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val failed = try Await.result(Future.traverse(1 to steps)(k => Future(point(k))), 20.minutes)
    finally pool.shutdown()
    assert(failed.flatten.isEmpty,
      s"${failed.flatten.size} of $steps crash points diverge:\n${failed.flatten.mkString("\n")}")
    info(s"$steps crash points")
  }

  test("vacuum crashed at every catalog step, then re-run, == a crash-free vacuum") {
    val local = prepared { root =>
      IndexCatalog.addDocuments(corpus(40L until 52L), "id", root)
      IndexCatalog.buildBlocks(spark, root)
      IndexCatalog.removeDocuments(spark, root, Seq(3L, 17L, 18L, 33L, 45L))
    }
    crashEveryStep(local, IndexCatalog.vacuum(spark, _), IndexCatalog.vacuum(spark, _))
  }

  test("buildBlocks fold crashed at every catalog step, then re-run, == a crash-free fold") {
    val local = prepared(IndexCatalog.addDocuments(corpus(40L until 52L), "id", _))
    crashEveryStep(local, IndexCatalog.buildBlocks(spark, _), IndexCatalog.buildBlocks(spark, _))
  }

  test("addDocuments crashed at every catalog step, then completed, == a crash-free append") {
    val local = prepared(_ => ())
    def append(root: String): Unit = { IndexCatalog.addDocuments(corpus(40L until 52L), "id", root); () }
    // an append that staged lands through resumeAppend; one that crashed
    // before staging is re-run by its caller
    crashEveryStep(local, append, { root =>
      IndexCatalog.resumeAppend(spark, root)
      if (!IndexCatalog.manifest(spark, root).contains("append.gen")) append(root)
    })
  }

  test("a fresh read at every step of a vacuum returns the pre-vacuum top-k") {
    val root = copyOf(prepared(IndexCatalog.removeDocuments(spark, _, Seq(3L, 17L, 33L))))
    def topK() = Queries.map(q =>
      ranked(QueryEngine.query(IndexCatalog.read(spark, root), q, BM25(), limit = K).collect()))
    val before = topK()
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val steps = StepFs.trace { s =>
      val now = scala.util.Try(topK())
      if (!now.toOption.contains(before)) seen += s"$s: ${now.fold(_.toString.take(200), _.toString)}"
    }(IndexCatalog.vacuum(spark, root))
    assert(steps > 0)
    assert(seen.isEmpty, s"readers saw a different index at:\n${seen.mkString("\n")}")
    assert(topK() == before)
    assert(IndexCatalog.read(spark, root).postings.filter(col("doc_id") === 3L).isEmpty)
  }
}
