package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, InvertedIndex}
import graft.query.QueryEngine
import graft.score.ScoreModel

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Where a persisted index keeps its tables. */
object TestCatalog {
  /** The current dir of `table` under `root`: the dir its manifest names. */
  def tablePath(root: String, table: String): String =
    s"$root/${graft.index.IndexCatalog.manifest(TestSpark.spark, root).getOrElse(s"table.$table", table)}"
}

/** Shared harness mirroring the reference test utils
  * (/root/reference/src/lib.rs:16-84): golden corpora in, (doc_id, score)
  * vectors out, 1e-8 approx equality, canonical tie order
  * (score desc, doc_id asc).
  */
abstract class TestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Reference `build_test_index` (/root/reference/src/lib.rs:72-83):
    * single `title` field, ids 0..n-1 in row order.
    */
  def buildTitleIndex(titles: Seq[String]): InvertedIndex = {
    import spark.implicits._
    val df = titles.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "title")
    IndexBuilder.build(df, "id", Seq("title"))
  }

  /** Two-field (title, description) corpus with explicit ids. */
  def buildTwoFieldIndex(rows: Seq[(Long, String, String)]): InvertedIndex = {
    import spark.implicits._
    val df = rows.toDF("id", "title", "description")
    IndexBuilder.build(df, "id", Seq("title", "description"))
  }

  def runQuery(idx: InvertedIndex, q: String, model: ScoreModel,
      boosts: Seq[Double] = Nil): Seq[(Long, Double)] =
    QueryEngine.query(idx, q, model, boosts).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Reference `test_score` (/root/reference/src/lib.rs:46-66): exact
    * length + rank, approx (1e-8) scores.
    */
  def assertScores(got: Seq[(Long, Double)], expected: Seq[(Long, Double)]): Unit = {
    assert(got.map(_._1) == expected.map(_._1),
      s"doc order mismatch: got=$got expected=$expected")
    got.zip(expected).foreach { case ((id, s), (eid, es)) =>
      assert(math.abs(s - es) < 1e-8, s"score mismatch for doc $id ($eid): $s vs $es")
    }
  }

  def assertQuery(idx: InvertedIndex, q: String, model: ScoreModel,
      expected: Seq[(Long, Double)]): Unit =
    assertScores(runQuery(idx, q, model), expected)
}
