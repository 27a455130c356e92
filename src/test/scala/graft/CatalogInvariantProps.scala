package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.index.{IndexCatalog, InvertedIndex}
import graft.query.QueryEngine

/** The catalog invariants the query path's driver-side shortcuts rely on,
  * checked after EVERY step of random build / append (delta and rollup) /
  * remove / vacuum / mergeShards sequences:
  *
  *  1. the dictionary's df (base plus append deltas) equals Σ occ over the
  *     whole posting store, per term — tombstoned postings included, since
  *     they stay on disk until a vacuum;
  *  2. the stored field stats (base plus deltas) equal the aggregate over
  *     the whole docstats table;
  *  3. the live df the query path resolves, and the live field stats of
  *     the opened snapshot, equal a recount over the postings and docstats
  *     anti-joined against the tombstone files.
  *
  * (1) and (2) are what make the live values subtractive (stored minus the
  * tombstoned docs' rows); (3) is the subtraction checked against the
  * recount it replaces.
  */
object CatalogInvariantProps extends Properties("CatalogInvariants") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)
      .withInitialSeed(org.scalacheck.rng.Seed(7L))

  private lazy val spark = TestSpark.spark

  private val vocab = Vector("a", "ab", "abc", "b", "ba", "c", "ca", "d")
  private val textGen: Gen[String] =
    Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      .map(_.mkString(" "))

  sealed trait Op
  case class Append(rollup: Boolean, n: Int) extends Op
  /** `pick` < 0 removes nothing (an empty id set); otherwise it picks any
    * id ever indexed, so already-removed ids are removed again.
    */
  case class Remove(pick: Int) extends Op
  case object Vacuum extends Op
  case class Merge(n: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> (for { r <- Gen.oneOf(true, false); n <- Gen.choose(1, 4) } yield Append(r, n)),
    1 -> Gen.const(Remove(-1)),
    3 -> Gen.choose(0, Int.MaxValue).map(Remove(_)),
    2 -> Gen.const(Vacuum),
    1 -> Gen.choose(1, 4).map(Merge(_)))

  private val caseGen = for {
    nOps <- Gen.choose(3, 5)
    ops <- Gen.listOfN(nOps, opGen)
    texts <- Gen.listOfN(40, Gen.zip(textGen, textGen))
  } yield (ops, texts)

  private val Fields = Seq("title", "body")

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def sums(df: DataFrame): Map[String, Long] =
    df.groupBy(col("term")).agg(sum(col("occ")).cast("long").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def docAgg(docstats: DataFrame): (Long, Seq[Long]) = {
    val aggs = count(lit(1)).as("n") +: Fields.indices.map(i =>
      coalesce(sum(element_at(col("fl"), i + 1)), lit(0L)).cast("long").as(s"s$i"))
    val r = docstats.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), Fields.indices.map(i => r.getLong(i + 1)))
  }

  /** Every invariant of the scaladoc, on the index at `root`. */
  private def invariants(root: String): Boolean = {
    val postings = spark.read.parquet(TestCatalog.tablePath(root, "postings"))
    val docstats = spark.read.parquet(TestCatalog.tablePath(root, "docstats"))
    val tombDir = new java.io.File(s"$root/tombstones")
    val tombs =
      if (tombDir.exists()) spark.read.parquet(tombDir.toString).select("doc_id")
      else InvertedIndex.emptyTombstones(spark)
    val idx = IndexCatalog.read(spark, root)

    val dictOk = idx.termdict.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap == sums(postings)
    val stored = IndexCatalog.storedFieldStats(spark, root)
    val storedOk = (stored.n, stored.sums.toSeq) == docAgg(docstats)

    val liveDf = QueryEngine.resolveExpansionsCollected(idx, Seq(0 -> ""), 1 << 20)
      .get._1.map(r => r._3 -> r._4).toMap
    val liveDfOk = liveDf == sums(postings.join(tombs, Seq("doc_id"), "left_anti"))
    val live = idx.fieldStats()
    val liveStatsOk = (live.n, live.sums.toSeq) ==
      docAgg(docstats.join(tombs, Seq("doc_id"), "left_anti"))
    dictOk && storedOk && liveDfOk && liveStatsOk
  }

  property("dictionary, stored and live statistics stay consistent") =
    forAll(caseGen) { case (ops, texts) =>
      import spark.implicits._
      var nextId = 0L
      val ever = scala.collection.mutable.ArrayBuffer.empty[Long]
      def docs(n: Int): DataFrame = {
        val rows = (0 until n).map { i =>
          val (t, b) = texts(((nextId + i) % texts.size).toInt)
          (nextId + i, t, b)
        }
        nextId += n; ever ++= rows.map(_._1)
        rows.toDF("id", "title", "body")
      }
      var root = tmp("graft_inv_")
      IndexCatalog.build(docs(6), "id", Fields, root, nBuckets = 4)
      var ok = invariants(root)
      ops.foreach { op =>
        op match {
          case Append(rollup, n) =>
            IndexCatalog.addDocuments(docs(n), "id", root,
              compactDeltasEvery = if (rollup) 1 else 100)
          case Remove(pick) =>
            IndexCatalog.removeDocuments(spark, root,
              if (pick < 0) Nil else Seq(ever(pick % ever.size)))
          case Vacuum =>
            IndexCatalog.vacuum(spark, root)
          case Merge(n) =>
            val other = tmp("graft_inv_shard_")
            IndexCatalog.build(docs(n), "id", Fields, other, nBuckets = 4)
            val out = tmp("graft_inv_merged_")
            IndexCatalog.mergeShards(spark, Seq(root, other), out)
            root = out
        }
        ok = ok && invariants(root)
      }
      ok
    }
}
