package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Job, stage and task facts of the traced run, attributed to spans by the
  * job group the [[Tracer]] sets around each call. Events arrive on the
  * listener bus thread; every access is synchronized.
  */
final class Collector extends SparkListener {
  final case class Job(group: String, startMs: Long, var endMs: Long)
  final case class Task(runMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageGroup = mutable.Map.empty[Int, String]
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Task]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
        jobs(e.jobId) = Job(g, e.time, -1L)
        e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && stageGroup.contains(e.stageId))
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        Task(m.executorRunTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }
}

/** One traced call: name, start/end (ns, this JVM's monotonic clock), the
  * span that caused it (0 for a top-level request) and the request it
  * belongs to. `counts` holds what the benchmark measured around the call
  * itself (files written under the index root, pruning survivors).
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
    startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def durNs: Long = endNs - startNs
}

/** Spans around the benchmark's calls into graft's public functions. With
  * tracing off every method just runs its body, so the traced and the
  * untraced run make the same timed calls in the same order (the traced
  * run adds untimed ones: `index.builder`, `query.prune_stats`).
  */
final class Tracer private (spark: SparkSession, val collector: Option[Collector]) {
  private val sc = spark.sparkContext
  // job events carry wall-clock ms; spans use nanoTime. One anchor maps
  // the first onto the second.
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var lastId = 0
  private var lastRequest = 0

  def enabled: Boolean = collector.isDefined

  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** A top-level span with a fresh request id. */
  def request[T](name: String)(body: => T): T = {
    lastRequest += 1
    span(name)(body)
  }

  /** A span around `body`. With `storageRoot`, the files that are new or
    * rewritten under that directory after the call are counted into the
    * span (listing happens outside the span's interval).
    */
  def span[T](name: String, storageRoot: Option[String] = None)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = open.headOption.map(_._1).getOrElse(0)
      val before = storageRoot.map(Files.list)
      open = (id, name) :: open
      sc.setJobGroup(Tracer.GroupPrefix + id, name)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some((p, pn)) => sc.setJobGroup(Tracer.GroupPrefix + p, pn)
          case None => sc.clearJobGroup()
        }
        val storage = (storageRoot, before) match {
          case (Some(r), Some(b)) =>
            val written = Files.list(r).filter { case (f, len) => !b.get(f).contains(len) }
            Map("files_written" -> written.size.toDouble,
              "mb_written" -> written.values.sum / 1e6)
          case _ => Map.empty[String, Double]
        }
        spans += Span(id, name, parent, lastRequest, start, end, storage)
      }
    }

  /** Forget the spans recorded so far (the set-up's), keeping ids unique. */
  def clear(): Unit = spans.clear()

  /** Attach counts measured after a span closed to its latest call. */
  def annotate(name: String, counts: Map[String, Double]): Unit =
    if (enabled) {
      val i = spans.lastIndexWhere(_.name == name)
      if (i >= 0) spans(i) = spans(i).copy(counts = spans(i).counts ++ counts)
    }

  /** Spans as JSON lines, with each span's jobs. */
  def write(file: File): Unit = collector.foreach { c =>
    org.apache.spark.perfbench.BusDrain(sc)
    val byGroup = c.synchronized(c.jobs.toSeq.groupBy(_._2.group))
    val out = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val jobs = byGroup.getOrElse(Tracer.GroupPrefix + s.id, Nil).map(_._1)
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      out.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""request":${s.request},"start_ns":${s.startNs - anchorNs},""" +
        s""""end_ns":${s.endNs - anchorNs},"jobs":[${jobs.mkString(",")}],"counts":{$counts}}""")
    } finally out.close()
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"

  // one collector per SparkContext: registering twice would count every
  // job twice (the registration guard of the extraStrategies idiom)
  private val installed = mutable.Map.empty[SparkContext, Collector]

  def apply(spark: SparkSession, enabled: Boolean): Tracer =
    new Tracer(spark, if (enabled) Some(collector(spark.sparkContext)) else None)

  private def collector(sc: SparkContext): Collector = synchronized {
    installed.getOrElseUpdate(sc, { val c = new Collector; sc.addSparkListener(c); c })
  }
}

/** Plain local-filesystem helpers for index roots and work dirs. */
object Files {
  /** Regular files under `root`: path → length. */
  def list(root: String): Map[String, Long] = {
    val base = new File(root)
    if (!base.exists()) Map.empty
    else {
      val out = Map.newBuilder[String, Long]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else out += f.getPath -> f.length()
      walk(base)
      out.result()
    }
  }

  def bytes(root: String): Long = list(root).values.sum

  def wipe(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}
