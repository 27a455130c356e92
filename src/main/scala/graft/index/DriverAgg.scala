package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Small results finished on the driver: each helper runs ONE Spark job with
  * no shuffle — partitions pre-aggregate (or cut) their rows, the driver
  * combines the few that come back. For results the driver holds anyway
  * (stats rows, one row per expansion term), where a `groupBy`/`agg` would
  * add a shuffle stage, i.e. a second job, for nothing.
  */
private[graft] object DriverAgg {

  /** Column-wise Σ over all rows of `df`; every column is read as a long
    * (null as 0).
    */
  def sums(df: DataFrame): Array[Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    val width = df.columns.length
    df.select(array(df.columns.toIndexedSeq.map(c => coalesce(col(c).cast("long"), lit(0L))): _*))
      .as[Array[Long]]
      .mapPartitions { it =>
        val acc = new Array[Long](width)
        it.foreach(r => { var i = 0; while (i < width) { acc(i) += r(i); i += 1 } })
        Iterator.single(acc)
      }
      .collect()
      .foldLeft(new Array[Long](width))((a, b) => a.indices.map(i => a(i) + b(i)).toArray)
  }

  /** Σ of the long `value` column per string `key` column. */
  def sumsByKey(df: DataFrame, key: String, value: String): Map[String, Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(key), coalesce(col(value).cast("long"), lit(0L))).as[(String, Long)]
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0L) + v }
        acc.iterator
      }
      .collect()
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The rows of `df`, at most `perPartition` from each partition. A caller
    * that knows a partition never repeats a key can read "some partition
    * was cut" off the number of distinct keys it got back.
    */
  def collectCapped(df: DataFrame, perPartition: Int): Array[Row] =
    df.mapPartitions(_.take(perPartition))(Encoders.row(df.schema)).collect()
}
