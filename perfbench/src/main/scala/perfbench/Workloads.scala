package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexCatalog, InvertedIndex}
import graft.query.{BlockMaxTopK, QueryEngine}
import graft.score.{BM25, ZeroToOne}
import graft.tools.{DocIdMint, SourceCodeGen}

/** What every workload shares: the session, the tracer, the seed and its
  * own directory under the benchmark's work dir.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, dir: String, cpus: Int)

/** One workload: a set-up and a closed loop of requests.
  *
  * A request's latency is the time spent inside graft's public calls
  * ([[call]]); the output checks between those calls are not timed. A
  * failed check marks the request failed.
  */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  /** The repeatable part of the set-up: seeded corpus generation and id
    * minting, from nothing. The runner repeats it and keeps the last.
    */
  def generate(): Unit
  /** The set-up builds over the generated corpus (once per run). */
  def prepare(): Unit = ()
  def request(): Unit
  /** Untimed requests before the loop, so that the loop's plans are
    * compiled and the JIT is warm.
    */
  def warmupRequests: Int = 1
  /** Directory whose bytes count as the index on disk. */
  def indexRoot: String
  /** UTF-8 bytes of the indexed fields of the live documents. */
  def indexedBytes(): Long

  val Fields: Seq[String] = Seq("content", "path")
  /** Term buckets and posting-block size, sized to these corpora. The
    * defaults (64 buckets, 4096-doc blocks) target corpora ~100x larger:
    * here they would leave a few dozen docs per bucket file and one block
    * per term, i.e. nothing for block-max WAND to prune.
    */
  val Buckets = 8
  val BlockSize = 128L

  /** Per span name: latencies (ms) of each timed call in the loop. */
  val callMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var requestNs = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  protected def call[T](name: String, storageRoot: Option[String] = None)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = tracer.span(name, storageRoot)(body)
    val dt = System.nanoTime() - t0
    requestNs += dt
    callMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt / 1e6
    out
  }

  protected def check(ok: Boolean, what: => String): Unit =
    if (!ok) problems += what

  protected def bytesOf(df: DataFrame): Long =
    df.agg(coalesce(sum(Fields.map(f => length(encode(col(f), "UTF-8"))).reduce(_ + _)), lit(0L)))
      .head().getLong(0)

  protected def topK(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))

  /** Rank-identical: same doc ids in the same order, scores within 1e-9. */
  protected def sameRanking(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((da, sa), (db, sb)) =>
      da == db && math.abs(sa - sb) <= 1e-9 * math.max(1.0, math.abs(sa))
    }

  protected def writeCorpus(df: DataFrame, dir: String): DataFrame = {
    Files.wipe(dir)
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }
}

object Workload {
  val Names: Seq[String] = Seq("ingest", "mutate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx)
    case "mutate" => new Mutate(ctx)
  }
}

/** Full index build followed by the block build, from a wiped root, over a
  * uniform-skew corpus. Stresses tokenize, the skewed postings shuffle,
  * the dictionary, block encoding and the catalog commit; no queries.
  */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  val NumFiles = 4000L
  /** A request gets ~45% faster over its first six runs in a JVM while the
    * driver's planning code is compiled; the loop measures the steady
    * state after them.
    */
  override def warmupRequests: Int = 6
  private val corpusDir = s"${ctx.dir}/corpus"
  val indexRoot = s"${ctx.dir}/index"
  private var corpus: DataFrame = _

  def generate(): Unit =
    corpus = writeCorpus(SourceCodeGen.generate(spark, NumFiles, seed = ctx.seed)
      .repartition(ctx.cpus * 2), corpusDir)

  def request(): Unit = {
    Files.wipe(indexRoot)
    val root = Some(indexRoot)
    val idx = call("index.build", root)(IndexCatalog.build(corpus, "doc_id", Fields, indexRoot, Buckets))
    call("index.blocks", root)(IndexCatalog.buildBlocks(spark, indexRoot, BlockSize))
    call("index.read_blocks")(IndexCatalog.readBlocks(spark, indexRoot))
    check(idx.fieldStats().n == NumFiles,
      s"ingest: live doc count ${idx.fieldStats().n} != input rows $NumFiles")
    // the tokenizer runs inside the build's jobs; the traced run isolates
    // tokenize + postings shuffle with the in-memory builder (no writes)
    if (tracer.enabled) tracer.span("index.builder") {
      IndexBuilder.build(corpus, "doc_id", Fields).postings
        .write.format("noop").mode("overwrite").save()
    }
  }

  def indexedBytes(): Long = bytesOf(corpus)
}

/** Writes beside reads on a persisted, impact-ordered index of the tiered
  * corpus (doc ids minted in keyword-density order, the shipped minted-WAND
  * recipe). A round appends a seeded batch with fresh doc ids, folds it into
  * the block table, removes seeded live ids, re-reads the snapshot and
  * queries it: two strings of the seeded query mix through exhaustive BM25
  * and WAND BM25 (one also through zero-to-one), then the read-your-writes
  * checks through both BM25 paths and `batchQuery`. A vacuum then compacts
  * the round's removals away. One round and its vacuum are one request.
  */
final class Mutate(ctx: Ctx) extends Workload(ctx) {
  val BaseFiles = 2000L
  val BatchFiles = 20L
  val RemovesPerRound = 5
  val K = 10
  /** Appended batches the generated corpus holds (the loop stops short). */
  val MaxRounds = 16
  private val baseDir = s"${ctx.dir}/base"
  private val appendDir = s"${ctx.dir}/appends"
  val indexRoot = s"${ctx.dir}/index"
  private var base: DataFrame = _
  private var appends: DataFrame = _
  private var firstAppendId = 0L
  private var paths: Map[Long, String] = Map.empty
  private val live = mutable.Set.empty[Long]
  private val removed = mutable.ArrayBuffer.empty[Long]
  private var rounds = 0
  private var rnd: scala.util.Random = _

  val queries: Seq[(String, String)] = Mutate.queryMix(ctx.seed, MaxRounds)

  def generate(): Unit = {
    val all = SourceCodeGen.generate(spark, BaseFiles + MaxRounds * BatchFiles,
      seed = ctx.seed, tiered = true)
    val kw = typedLit(SourceCodeGen.Keywords)
    val toks = split(col("content"), " ")
    val unminted = all.filter(col("doc_id") < BaseFiles).drop("doc_id")
      .repartition(ctx.cpus * 2)
      .withColumn("kw_density",
        size(filter(toks, t => array_contains(kw, t))).cast("double") /
          greatest(size(toks), lit(1)).cast("double"))
    // the impact-ordering key of the shipped minted-WAND recipe: coarse
    // keyword-density band first, then length, then path
    base = writeCorpus(DocIdMint.mintOrdered(unminted,
      Seq(round(col("kw_density") * 8).desc, size(toks).asc, col("path").asc))
      .drop("kw_density"), baseDir)
    firstAppendId = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    appends = writeCorpus(all.filter(col("doc_id") >= BaseFiles)
      .withColumn("doc_id", col("doc_id") - BaseFiles + firstAppendId)
      .repartition(ctx.cpus), appendDir)
    paths = base.unionByName(appends).select("doc_id", "path").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  override def prepare(): Unit = {
    Files.wipe(indexRoot)
    IndexCatalog.build(base, "doc_id", Fields, indexRoot, Buckets)
    IndexCatalog.buildBlocks(spark, indexRoot, BlockSize)
    live.clear(); live ++= paths.keys.filter(_ < firstAppendId)
    removed.clear()
    rounds = 0
    rnd = new scala.util.Random(ctx.seed * 31 + 7)
  }

  /** A round, then a vacuum of its removals. */
  def request(): Unit = { appendRound(); vacuumRequest() }

  private def appendRound(): Unit = {
    require(rounds < MaxRounds, "mutate: the generated corpus has no batch left")
    val lo = firstAppendId + rounds * BatchFiles
    val ids = (lo until lo + BatchFiles).toSeq
    val (hot, cold) = queries(rounds)
    rounds += 1
    val root = Some(indexRoot)
    val batch = appends.filter(col("doc_id") >= lo && col("doc_id") < lo + BatchFiles)
    call("index.append", root)(IndexCatalog.addDocuments(batch, "doc_id", indexRoot))
    call("index.fold", root)(IndexCatalog.buildBlocks(spark, indexRoot))
    live ++= ids
    val gone = rnd.shuffle(live.toSeq.filter(_ < lo).sorted).take(RemovesPerRound)
    call("index.remove")(IndexCatalog.removeDocuments(spark, indexRoot, gone))
    live --= gone
    removed ++= gone
    val snap = new Snapshot

    // the query mix: WAND must rank exactly as the exhaustive path
    val exh = Seq(hot, cold).map { q =>
      val e = snap.exhaustive(q, K)
      val w = snap.wand(q, K)
      check(e.nonEmpty, s"mutate: no hits for '$q'")
      check(sameRanking(e, w), s"mutate: WAND != exhaustive for '$q': $w vs $e")
      e
    }
    val zto = topK(call("query.zto")(QueryEngine.query(snap.idx, hot, ZeroToOne(), limit = K).collect()))
    check(zto.size == exh.head.size, s"mutate: zero-to-one returned ${zto.size} rows for '$hot'")

    // read-your-writes: the unique path tokens of the appended and the
    // removed docs match exactly the appended docs on both paths
    val ryw = (ids ++ gone).map(paths).mkString(" ")
    val rExh = snap.exhaustive(ryw, ids.size + gone.size)
    val rWd = snap.wand(ryw, ids.size + gone.size)
    check(rExh.map(_._1).toSet == ids.toSet,
      s"mutate: round $rounds hits ${rExh.map(_._1).sorted} != appended $ids")
    check(sameRanking(rExh, rWd), s"mutate: round $rounds WAND != exhaustive on appended paths")
    // batchQuery: the mix strings (qids -1, -2) equal the single queries;
    // each appended doc is the only hit of its own path, removed docs have
    // none
    val byQid = topKByQid(call("query.batch")(QueryEngine.batchQuery(snap.idx,
      Seq(-1L -> hot, -2L -> cold) ++ (ids ++ gone).map(d => d -> paths(d)), BM25(), k = K).collect()))
    Seq(hot, cold).zip(exh).zipWithIndex.foreach { case ((q, e), i) =>
      check(sameRanking(byQid.getOrElse(-1L - i, Nil), e), s"mutate: batchQuery != single query for '$q'")
    }
    ids.foreach(d => check(byQid.get(d).map(_.map(_._1)).contains(Seq(d)),
      s"mutate: appended doc $d not found by its path in batchQuery"))
    gone.foreach(d => check(!byQid.contains(d), s"mutate: removed doc $d found by batchQuery"))
    snap.checkLive()
  }

  /** Vacuum the round's tombstones; the live count must not change. */
  private def vacuumRequest(): Unit = {
    call("index.vacuum", Some(indexRoot))(IndexCatalog.vacuum(spark, indexRoot))
    new Snapshot().checkLive()
  }

  private def topKByQid(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getAs[Long]("qid")).map { case (qid, rs) => qid -> topK(rs) }

  /** The re-read index and block table after a write. */
  private class Snapshot {
    val idx: InvertedIndex = call("index.read")(IndexCatalog.read(spark, indexRoot))
    private val (blocks, bs, rpg) = call("index.read_blocks")(IndexCatalog.readBlocks(spark, indexRoot))

    def exhaustive(q: String, k: Int): Seq[(Long, Double)] =
      topK(call("query.exh")(QueryEngine.query(idx, q, BM25(), limit = k).collect()))

    def wand(q: String, k: Int): Seq[(Long, Double)] = {
      val out = topK(call("query.wand")(BlockMaxTopK.query(idx, blocks, q, BM25(), k = k,
        blockSize = bs, rangesPerGroup = rpg).collect()))
      if (tracer.enabled) {
        val stats = tracer.span("query.prune_stats")(BlockMaxTopK.pruningStats(idx, blocks, q,
          BM25(), k = k, blockSize = bs, rangesPerGroup = rpg))
        // None: the query falls back to the exhaustive path, nothing pruned
        val (ranges, survivors) = stats.map(s => (s._1, s._2)).getOrElse((0L, 0L))
        tracer.annotate("query.wand", Map("ranges" -> ranges.toDouble,
          "survivors" -> survivors.toDouble,
          "survivor_ratio" -> (if (ranges == 0) 1.0 else survivors.toDouble / ranges)))
      }
      out
    }

    def checkLive(): Unit = check(idx.fieldStats().n == live.size,
      s"mutate: live count ${idx.fieldStats().n} != expected ${live.size} after round $rounds")
  }

  def indexedBytes(): Long = {
    val session = spark
    import session.implicits._
    bytesOf(base.unionByName(appends).join(live.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"))
  }
}

object Mutate {
  /** Each round's two seeded query strings, in fixed proportions so every
    * seed costs about the same: a hot keyword, where impact-ordered WAND
    * can prune, and a cold string, where it cannot. The cold one rotates
    * through a rare identifier, a `Modu*` prefix expansion and a 2–3 term
    * disjunction mixing hot and cold terms.
    */
  def queryMix(seed: Long, rounds: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val hot = SourceCodeGen.Keywords.take(8)
    def pickHot = hot(rnd.nextInt(hot.size))
    def rare = s"ident${200 + rnd.nextInt(200)}"
    def prefix = if (rnd.nextBoolean()) "Modu" else s"Module${1 + rnd.nextInt(4)}"
    def multi = (pickHot +: Seq.fill(1 + rnd.nextInt(2))(
      if (rnd.nextBoolean()) rare else pickHot)).mkString(" ")
    Seq.tabulate(rounds)(r => (pickHot, r % 3 match { case 0 => rare case 1 => prefix case _ => multi }))
  }
}
