package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `stepfs://` scheme, with a hook on its
  * `rename` and `delete` calls: inside [[StepFs.trace]], every such call
  * that [[graft.index.IndexCatalog]] itself makes on the tracing thread is
  * a numbered step, and the hook runs just before the call does. A hook
  * that throws [[StepFs.Crash]] is a process death at that step; any other
  * hook runs in the window between two steps. Calls made by Spark's file
  * writers (their `_temporary` commits, overwrite-mode deletes) and calls
  * from other threads are not steps.
  */
class StepFs extends RawLocalFileSystem {
  override def getUri: URI = StepFs.Uri
  override def getScheme: String = StepFs.Scheme

  override def rename(src: Path, dst: Path): Boolean =
    StepFs.step("rename", src)(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    StepFs.step("delete", p)(super.delete(p, recursive))
}

object StepFs {
  val Scheme = "stepfs"
  private val Uri = URI.create(s"$Scheme:///")

  /** One counted call: its 1-based number, the operation and its path. */
  final case class Step(n: Int, op: String, path: String)

  final class Crash(val step: Step) extends RuntimeException(s"injected crash before $step")

  /** The root `local` (a local directory) under this scheme, with the
    * scheme registered on `spark`'s Hadoop configuration.
    */
  def root(spark: SparkSession, local: String): String = {
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[StepFs].getName)
    s"$Scheme://$local"
  }

  /** A fresh temp dir, as a root under this scheme. */
  def tempRoot(spark: SparkSession, prefix: String): String =
    root(spark, java.nio.file.Files.createTempDirectory(prefix).toString)

  private final class Tracer(val hook: Step => Unit) {
    var steps = 0
    var inside = false // a call made from the hook, or from within a counted call
  }

  /** The tracer of each tracing thread; threads trace independently. */
  private val tracers = new java.util.concurrent.ConcurrentHashMap[Thread, Tracer]()

  /** Run `body` with `hook` called before each step; returns the number
    * of steps `body` made (up to the crash, if the hook threw).
    */
  def trace(hook: Step => Unit)(body: => Any): Int = {
    val t = new Tracer(hook)
    require(tracers.putIfAbsent(Thread.currentThread(), t) == null, "StepFs.trace does not nest")
    try { body; t.steps } finally tracers.remove(Thread.currentThread())
  }

  /** Crash `body` before the first step `when` holds for; true when it
    * did (false: `body` finished first).
    */
  def crash(when: Step => Boolean)(body: => Any): Boolean =
    try { trace(s => if (when(s)) throw new Crash(s))(body); false }
    catch { case _: Crash => true }

  /** Crash `body` at step `k`. */
  def crashAt(k: Int)(body: => Any): Boolean = crash(_.n == k)(body)

  private def fromCatalog: Boolean =
    Thread.currentThread().getStackTrace.iterator.map(_.getClassName)
      .dropWhile(c => c.startsWith("java.") || c.startsWith("org.apache.hadoop.fs.") ||
        c.startsWith("graft.StepFs"))
      .nextOption().exists(_.startsWith("graft.index.IndexCatalog"))

  private def step[T](op: String, p: Path)(call: => T): T =
    Option(tracers.get(Thread.currentThread())).filter(!_.inside) match {
      case Some(t) if fromCatalog =>
        t.steps += 1
        t.inside = true
        try { t.hook(Step(t.steps, op, p.toUri.getPath)); call } finally t.inside = false
      case _ => call
    }
}
