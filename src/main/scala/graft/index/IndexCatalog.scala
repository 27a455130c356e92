package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persisted index layout with checkpoint-resumable build stages, atomic
  * publish, and per-partition lineage (north_rule requirements). The
  * catalog boundary is deliberately thin — snapshot dirs + a JSON manifest
  * giving atomic-publish semantics — so an Iceberg catalog can replace it
  * where the runtime jar exists (none in this sandbox).
  *
  * Layout under `root/`:
  * {{{
  *   manifest.json      completed stages, row counts, per-bucket lineage,
  *                      table schemas, the dir of each table
  *   docstats/          parquet (doc_id, fl)
  *   postings/          parquet, hive-partitioned by bucket=pmod(xxhash64(term), B)
  *   termdict/          parquet (term, df, bucket)
  *   fieldstats/        parquet single row (n, sums)
  *   tombstones/        parquet (doc_id), absent until a remove
  * }}}
  *
  * Stage DAG (each stage is written straight to its dir — nothing reads a
  * stage before its manifest key commits — and recorded in the manifest; a
  * rerun of [[build]] skips completed stages and derives later stages from
  * the PERSISTED outputs of earlier ones, so a killed build resumes where
  * it stopped):
  *
  *   docstats → postings → termdict → fieldstats → publish
  *
  * Every rewrite of a published index follows one rule: write into dirs no
  * manifest names (`<table>.v<n>` for a [[vacuum]], `<table>.d<g>` /
  * `<table>.g<g>` for an append), then publish them with ONE manifest
  * write; after the commit [[sweep]] deletes every table dir the manifest
  * no longer names. A crash before a commit leaves only orphan dirs, and a
  * reader never finds a named table missing.
  *
  * Hash-bucketing `postings` by term gives query-time partition pruning:
  * once the expansion set is resolved against the (tiny) term dictionary,
  * the posting scan touches only the buckets of the expanded terms —
  * at 10^12-doc scale that is the difference between scanning the whole
  * posting store and a few thousandths of it.
  */
object IndexCatalog {

  /** The four tables every index has, in build order. */
  private val Tables = Seq("docstats", "postings", "termdict", "fieldstats")

  /** Current directory of a table. A fresh build writes the plain name; an
    * append rollup (`termdict.g3`) or a vacuum (`postings.v2`) publishes a
    * NEW dir and repoints this manifest key in its commit's one manifest
    * write — so the live table is never renamed away: readers either see
    * the old manifest (old dir, still present) or the new one (new dir,
    * complete before the commit). Any other dir name maps to itself.
    */
  private def tableDir(m: Map[String, String], table: String): String =
    m.getOrElse(s"table.$table", table)

  def bucketOf(term: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(term), lit(nBuckets)).cast("int")

  // ---- tiny JSON-ish manifest (no external deps) ----

  private[index] def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Manifest read-out for cross-package engine code (the streaming
    * ingesters' batch markers / family dispatch); the manifest FORMAT
    * stays index-private.
    */
  private[graft] def manifest(spark: SparkSession, root: String): Map[String, String] =
    readManifest(spark, root)

  private[index] def readManifest(spark: SparkSession, root: String): Map[String, String] = {
    val f = fs(spark, root); val mp = new Path(s"$root/manifest.json")
    // one `"key": "value"` pair per line
    def parse(p: Path): Map[String, String] = {
      val in = f.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
    if (f.exists(mp)) return parse(mp)
    // writeManifest's swap is delete-then-rename (Hadoop FileSystem.rename
    // won't overwrite): a crash between the two leaves no manifest.json
    // but a COMPLETE _manifest.json.tmp (the tmp is fully written+closed
    // before the delete). Promote it best-effort; when the rename fails
    // (read-only mount) or another reader/writer wins the race, fall back
    // to parsing whichever file exists — the read path must stay usable
    // without its repair side effect.
    val tmp = new Path(s"$root/_manifest.json.tmp")
    if (!f.exists(tmp)) return Map.empty
    val renamed = try f.rename(tmp, mp) catch { case _: Throwable => false }
    if (f.exists(mp)) parse(mp)
    else if (!renamed && f.exists(tmp)) parse(tmp)
    else Map.empty
  }

  private[index] def writeManifest(spark: SparkSession, root: String,
      entries: Map[String, String]): Unit = {
    val f = fs(spark, root)
    val body = entries.toSeq.sorted
      .map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}\n")
    val tmp = new Path(s"$root/_manifest.json.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dst = new Path(s"$root/manifest.json")
    if (f.exists(dst)) f.delete(dst, false)
    // a reader that found no manifest.json between the delete and this
    // rename promotes the tmp itself (readManifest): nothing left to move
    try f.rename(tmp, dst)
    catch { case _: java.io.FileNotFoundException if f.exists(dst) => true }
    ()
  }

  // ---- table schemas, recorded in the manifest ----

  /** Manifest key of the schema of the table in `dir`: the table name —
    * also for a vacuum's `<table>.v<n>`, written by build's own writers —
    * or `<table>.gen` for the append-generation dirs (`termdict.d3`,
    * `fieldstats.g5`), which all share one schema.
    */
  private def schemaKey(dir: String): String = dir.split('.') match {
    case Array(table, gen) if !gen.startsWith("v") => s"schema.$table.gen"
    case parts => s"schema.${parts.head}"
  }

  /** DDL of the schema a parquet read resolves `df`, written with
    * `partitionBy`, to: data columns, then partition columns, all nullable.
    * Each write records it in the manifest write it already makes, so reads
    * pin it instead of running a footer-inference job per
    * `spark.read.parquet`.
    */
  private def schemaOf(df: DataFrame, partitionBy: Seq[String] = Nil): String = {
    val s = df.schema
    org.apache.spark.sql.graftbridge.asNullable(StructType(
      s.filterNot(f => partitionBy.contains(f.name)) ++ partitionBy.map(s(_)))).toDDL
  }

  /** A parquet reader for the table in `dir` with its recorded schema. A
    * root written before schemas were recorded has no key: the read infers
    * the schema from the footers (one job).
    */
  private def reader(spark: SparkSession, m: Map[String, String], dir: String): DataFrameReader =
    m.get(schemaKey(dir)).fold(spark.read)(spark.read.schema(_))

  /** The table `table` (its current dir, [[tableDir]]) or the generation
    * dir `table` names.
    */
  private def readTable(spark: SparkSession, root: String, m: Map[String, String],
      table: String): DataFrame = {
    val dir = tableDir(m, table)
    reader(spark, m, dir).parquet(s"$root/$dir")
  }

  /** Tombstones are always `(doc_id: long)` — every remove casts — so their
    * schema is a constant rather than a manifest key.
    */
  private val TombstoneSchema = "doc_id BIGINT"

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Promote a streaming ingester's staged batch marker into its committed
    * form, as part of a publish's single manifest write. Lineage-bound
    * markers (`<queryId>:<batchId>`, [[graft.streaming.StreamLineage]])
    * land under a PER-LINEAGE key so one retired stream's late replay can
    * never be confused with another stream's progress; bare legacy markers
    * keep the shared key and its match-any-lineage semantics.
    */
  private[graft] def promoteStreamMarker(m: Map[String, String]): Map[String, String] =
    m.get("stream.stagedBatch") match {
      case Some(v) =>
        val base = m - "stream.stagedBatch"
        v.split(":", 2) match {
          case Array(id, b) => base + (s"stream.lastBatch.$id" -> b)
          case _ => base + ("stream.lastBatch" -> v)
        }
      case None => m
    }

  /** Run one stage if not already recorded: produce `df`, write it straight
    * to the stage's dir ([[tableDir]]), record rows + duration + schema —
    * committed in a manifest write of its own, or (`commit = false`) left
    * in the returned manifest for the caller's one commit.
    *
    * The manifest row count comes from an [[org.apache.spark.sql.Observation]]
    * attached to the WRITE job itself (one pass) — at 100-TB scale a
    * `read.parquet(dir).count()` after the write would pay a second full
    * scan of the postings table just for a metadata number.
    */
  private def stage(spark: SparkSession, root: String, name: String,
      manifest: Map[String, String], partitionBy: Seq[String] = Nil,
      extraMetrics: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      onMetrics: Map[String, Long] => Unit = _ => (), commit: Boolean = true)(
      df: => DataFrame): Map[String, String] = {
    if (manifest.contains(s"stage.$name.rows")) return manifest // resume: skip
    val dir = tableDir(manifest, name)
    val t0 = System.nanoTime()
    val obs = org.apache.spark.sql.Observation()
    // extraMetrics ride the SAME write pass (guide §2.3: aggregate in the
    // scan you already pay for) — build() uses this to fold the global
    // field-stat sums into the docstats write instead of re-scanning the
    // persisted table in a separate job
    val metricCols = count(lit(1)).as("rows") +:
      extraMetrics.map { case (n, c) => c.as(n) }
    val frame = df
    val w = frame.observe(obs, metricCols.head, metricCols.tail: _*)
      .write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(s"$root/$dir")
    val rows = obs.get("rows").asInstanceOf[Long]
    if (extraMetrics.nonEmpty)
      onMetrics(extraMetrics.map(_._1)
        .map(n => n -> obs.get(n).asInstanceOf[Long]).toMap)
    val secs = (System.nanoTime() - t0) / 1e9
    val m2 = manifest +
      (s"stage.$name.rows" -> rows.toString) +
      (s"stage.$name.secs" -> f"$secs%.3f") +
      (schemaKey(dir) -> schemaOf(frame, partitionBy))
    if (commit) writeManifest(spark, root, m2)
    m2
  }

  /** Per-bucket lineage `b=n;…` in bucket order: Σ `rows` (one per row by
    * default) per `bucket`, summed on the driver — one job, no shuffle.
    */
  private def bucketLineage(df: DataFrame, rows: org.apache.spark.sql.Column = lit(1L)): String =
    DriverAgg.sumsByKey(df.select(col("bucket").cast("string").as("bucket"), rows.as("rows")),
        "bucket", "rows")
      .toSeq.map { case (b, n) => (b.toInt, n) }.sorted
      .map { case (b, n) => s"$b=$n" }.mkString(";")

  /** Persisted, resumable index build. Safe to re-invoke after a crash:
    * completed stages are skipped and later stages read the persisted
    * outputs of earlier ones instead of recomputing the lineage.
    */
  def build(docs: DataFrame, docIdCol: String, fieldCols: Seq[String],
      root: String, nBuckets: Int = 64): InvertedIndex = {
    val spark = docs.sparkSession
    val mem = IndexBuilder.build(docs, docIdCol, fieldCols)
    val m = writeTables(spark, root, readManifest(spark, root), fieldCols.size, nBuckets,
      mem.docstats, mem.postings.withColumn("bucket", bucketOf(col("term"), nBuckets)),
      commit = true)
    if (m.getOrElse("published", "") != "true")
      writeManifest(spark, root, m +
        ("config.nBuckets" -> nBuckets.toString) +
        ("config.numFields" -> fieldCols.size.toString) +
        ("config.fields" -> fieldCols.mkString(",")) +
        ("published" -> "true"))
    read(spark, root)
  }

  /** Write the four tables of an index into their dirs ([[tableDir]]) from
    * its docstats and bucketed postings — [[build]]'s and [[vacuum]]'s one
    * definition of them — skipping each stage `m` records; with `commit`
    * each stage commits on its own (build's resume points). Returns `m`
    * with every stage's keys and `lineage.postings`.
    */
  private def writeTables(spark: SparkSession, root: String, m0: Map[String, String],
      nf: Int, nBuckets: Int, docstats: DataFrame, postings: DataFrame,
      commit: Boolean): Map[String, String] = {
    // the docstats WRITE also observes the per-field token sums, so the
    // fieldstats stage below writes a literal 1-row frame instead of
    // re-scanning the persisted docstats — one corpus-sized pass saved per
    // build (stats share the scan; N itself is the stage's row count).
    // (A postings-derived docstats — groupBy(doc_id) over the persisted
    // store + zero-token anti-join — was tried to drop this pass's second
    // tokenize and MEASURED SLOWER: every doc's rows span all 64 bucket
    // partitions, so the partial agg emits ~docs×buckets rows and the
    // shuffle costs more than the tokenize it saved. Kept the two-pass
    // shape; see OPTIMIZATION_r06.md.)
    var statSums: Option[Map[String, Long]] = None
    var m = stage(spark, root, "docstats", m0, commit = commit,
      extraMetrics = (0 until nf).map(i =>
        s"s$i" -> coalesce(sum(element_at(col("fl"), i + 1)), lit(0L))),
      onMetrics = vals => statSums = Some(vals))(docstats)
    m = stage(spark, root, "postings", m, partitionBy = Seq("bucket"), commit = commit) {
      // repartition ON the bucket key before the partitioned write: one
      // task per bucket ⇒ one file per bucket, instead of every map task
      // spraying a file into every bucket dir (the small-files problem —
      // at 32 tasks × 64 buckets that is 2048 files and the write is
      // file-open-bound). Sorting within partitions by (term, doc_id)
      // gives parquet row-group min/max pruning for the query-time
      // `term IN (…)` filter and doc-ordered lists for block encoding.
      postings.repartition(nBuckets, col("bucket"))
        .sortWithinPartitions(col("term"), col("doc_id"))
    }
    // termdict derives from the PERSISTED postings (resume-correct and
    // cheaper than re-tokenizing). Range-partitioned + sorted ON TERM:
    // dictionary lookups are prefix (`startsWith`) and point (`term IN`)
    // predicates — both push to parquet, and with term-ordered files they
    // prune at the FILE/row-group level. At a 10^9-term vocabulary that
    // turns every query's expansion resolve from a full dictionary scan
    // into a handful of row groups; the extra range shuffle at build time
    // is over the dictionary (vocab-sized), not the corpus.
    m = stage(spark, root, "termdict", m, commit = commit) {
      // `rows` (posting rows per term) rides along so the per-bucket
      // lineage below folds from the VOCAB-sized dictionary instead of a
      // second full scan of the posting store; readers never see it
      // ([[termdictDf]] projects it away)
      readTable(spark, root, m, "postings")
        .groupBy(col("term"), col("bucket"))
        .agg(sum(col("occ")).as("df"), count(lit(1)).as("rows"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"))
    }
    m = stage(spark, root, "fieldstats", m, commit = commit) {
      statSums match {
        case Some(vals) =>
          // observed on the docstats write above — no re-scan; n is the
          // docstats stage's recorded row count
          val n = m("stage.docstats.rows").toLong
          spark.range(1).select(lit(n).as("n") +:
            (0 until nf).map(i => lit(vals(s"s$i")).as(s"s$i")): _*)
        case None =>
          // resume from a crashed build in a LATER JVM: the observation is
          // gone, fall back to the persisted-docstats aggregate
          val aggs = count(lit(1)).as("n") +:
            (0 until nf).map(i => coalesce(sum(element_at(col("fl"), i + 1)), lit(0L)).as(s"s$i"))
          readTable(spark, root, m, "docstats").agg(aggs.head, aggs.tail: _*)
      }
    }
    // per-bucket lineage: posting row count per partition — folded from
    // the dictionary's `rows` column when present (vocab-sized scan); the
    // postings re-scan remains only for resumes over a pre-`rows` termdict
    if (m.contains("lineage.postings")) m
    else {
      val td = readTable(spark, root, m, "termdict")
      m + ("lineage.postings" ->
        (if (td.columns.contains("rows")) bucketLineage(td, col("rows"))
        else bucketLineage(readTable(spark, root, m, "postings"))))
    }
  }

  /** Append generations whose termdict/fieldstats live as DELTA tables
    * (`termdict.d<g>`), unioned with the base by readers — the O(vocab)
    * full-dictionary merge per append is replaced by an O(delta-vocab)
    * write, with a rollup every `compactDeltasEvery` generations bounding
    * the union width (see [[stageAppend]]).
    */
  private def deltaGens(m: Map[String, String]): Seq[String] =
    m.getOrElse("append.deltas", "").split(",").filter(_.nonEmpty).toSeq

  /** The stored dictionary: the base generation, then one table per append
    * delta — each `(term, bucket, df)` with one row per term.
    */
  private def dictParts(spark: SparkSession, root: String,
      m: Map[String, String]): Seq[DataFrame] =
    // explicit projection: build-time bookkeeping columns (`rows`, used
    // once for lineage) must not leak into the reader schema, and the
    // parts must be column-identical for the union below
    ("termdict" +: deltaGens(m).map(g => s"termdict.d$g"))
      .map(d => readTable(spark, root, m, d).select(col("term"), col("bucket"), col("df")))

  /** The live term dictionary: the parts' df summed per term. With no
    * deltas this is the plain base scan.
    */
  private def termdictDf(spark: SparkSession, root: String,
      m: Map[String, String]): DataFrame = sumDict(dictParts(spark, root, m))

  private def sumDict(parts: Seq[DataFrame]): DataFrame =
    if (parts.size == 1) parts.head
    else parts.reduce(_.unionByName(_))
      .groupBy(col("term"), col("bucket")).agg(sum(col("df")).as("df"))

  /** The stored global field-stats rows `(n, s0, …)`: the base generation,
    * then one row per append delta (each over just its docs).
    */
  private def statsParts(spark: SparkSession, root: String,
      m: Map[String, String], nf: Int): Seq[DataFrame] =
    ("fieldstats" +: deltaGens(m).map(g => s"fieldstats.d$g"))
      .map(d => readTable(spark, root, m, d)
        .select(col("n") +: (0 until nf).map(i => col(s"s$i")): _*))

  /** Σ of `(n, s0, …)` rows as field stats: one job, summed on the driver. */
  private def sumStats(rows: Seq[DataFrame]): FieldStats = {
    val v = DriverAgg.sums(rows.reduce(_.union(_)))
    val sums = v.tail
    FieldStats(v(0), sums, sums.map(_.toDouble / v(0).toDouble))
  }

  /** The STORED global field stats (base plus append deltas): every doc in
    * docstats, tombstoned ones included.
    */
  private[graft] def storedFieldStats(spark: SparkSession, root: String): FieldStats = {
    val m = readManifest(spark, root)
    sumStats(statsParts(spark, root, m, m("config.numFields").toInt))
  }

  /** The manifest of a published index this engine can open. A root an
    * older engine version left mid-vacuum (`vacuum.pending`) is refused:
    * its tables may already be compacted while its dictionary and stats
    * are not, and the resume protocol for that state is gone.
    */
  private def published(spark: SparkSession, root: String): Map[String, String] = {
    val m = readManifest(spark, root)
    require(m.getOrElse("published", "") == "true", s"no published index at $root")
    require(!m.contains("vacuum.pending"),
      s"index at $root was left mid-vacuum by an older engine version — rebuild it")
    m
  }

  /** Largest tombstone set held on the driver. Its ids become one hash-set
    * predicate in every live plan, which ships with each task.
    */
  private val MaxHeldTombstones = 1 << 16

  /** The root's tombstones: their frame, and the distinct ids when the set
    * is held on the driver — its files no larger than Spark's broadcast
    * threshold (the set Spark would ship to every executor anyway) and at
    * most [[MaxHeldTombstones]] rows. None when no doc is tombstoned: no
    * tombstone dir, or one whose files hold no id (a remove of an empty
    * set), which must not send every query down the tombstone path.
    */
  private def openTombstones(spark: SparkSession,
      root: String): Option[(DataFrame, Option[Array[Long]])] = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/tombstones")
    val files =
      if (f.exists(dir)) f.listStatus(dir).filter(st => st.isFile && isDataFile(st.getPath.getName))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    if (files.isEmpty) return None
    val df = spark.read.schema(TombstoneSchema).parquet(dir.toString)
    if (files.map(_.getLen).sum > org.apache.spark.sql.graftbridge.broadcastThreshold(spark))
      return Some((df, None))
    // at most MaxHeldTombstones + 1 rows per partition reach the driver; a
    // partition can only have been cut if more than MaxHeldTombstones rows
    // came back, and then the set is not held anyway
    val rows = DriverAgg.collectCapped(df.filter(col("doc_id").isNotNull), MaxHeldTombstones + 1)
    if (rows.isEmpty) None
    else if (rows.length > MaxHeldTombstones) Some((df, None))
    else Some((df, Some(rows.map(_.getLong(0)).distinct.sorted)))
  }

  /** Open a persisted index. The postings DataFrame keeps its `bucket`
    * column so the query path can prune partitions.
    *
    * Jobs: one collecting a driver-held tombstone set, and one summing the
    * stored field stats with the tombstoned docs' docstats rows SUBTRACTED
    * — the snapshot's live stats, so queries run no stats job. A tombstone
    * set too large to hold leaves the live stats to
    * [[InvertedIndex.fieldStats]]' recount.
    */
  def read(spark: SparkSession, root: String): InvertedIndex = {
    val m = published(spark, root)
    val nf = m("config.numFields").toInt
    val tombs = openTombstones(spark, root)
    val parts = dictParts(spark, root, m)
    val idx = InvertedIndex(
      postings = readTable(spark, root, m, "postings"),
      docstats = readTable(spark, root, m, "docstats"),
      termdict = sumDict(parts),
      tombstones = tombs.fold(InvertedIndex.emptyTombstones(spark))(_._1),
      numFields = nf, hasTombstones = tombs.isDefined,
      tombstoneIds = tombs.flatMap(_._2), dictParts = parts)
    if (idx.hasTombstones && idx.tombstoneIds.isEmpty) idx
    else {
      val gone = if (!idx.hasTombstones) Nil else Seq(idx.docstats.filter(idx.tombstoned)
        .select(lit(-1L).as("n") +: (0 until nf).map(i =>
          -coalesce(element_at(col("fl"), i + 1).cast("long"), lit(0L))): _*))
      idx.copy(statsHint = Some(sumStats(statsParts(spark, root, m, nf) ++ gone)))
    }
  }

  /** Block-table format version; bumped when the [[PostingBlocks.Block]]
    * schema OR on-disk layout changes (v2: per-field `min_fl` metadata for
    * the tight BM25 bound; v3: `(bucket, rg)` hive partitioning with
    * `rg = block_id / rangesPerGroup` — the unit of INCREMENTAL block
    * maintenance and of partition pruning for WAND probe/survivor decodes).
    * Stale-format persisted blocks are rebuilt by [[buildBlocks]] and
    * refused by [[readBlocks]].
    */
  val BlockFormat = "3"

  /** Doc-id ranges per block-table partition dir — the granularity of
    * incremental rewrite: an append/vacuum re-encodes only the
    * `(bucket, rg)` dirs its doc-id ranges touch and leaves every other
    * block file byte-identical. Default 32 ranges × 4096-doc blocks =
    * 128k docs per rg; at deployment scale tune blockSize × rangesPerGroup
    * together so each (bucket, rg) parquet file lands near the 100-500 MB
    * sweet spot.
    */
  val DefaultRangesPerGroup: Long = 32L

  /** Exact integer division on long columns. Spark's `/` is DOUBLE
    * division — a doc_id/block_id above 2^53 would lose low bits in the
    * double round-trip BEFORE the truncating cast, silently mapping docs
    * to the wrong block/rg (and the incremental fold would then swap a
    * partial rewrite over a live partition it never decoded). Minted
    * 64-bit ids make that range reachable, so every Spark-side id→block
    * and block→rg mapping goes through IntegralDivide, matching
    * [[PostingBlocks.fromPostings]]'s exact JVM long division.
    */
  private def longDiv(a: org.apache.spark.sql.Column, b: Long) = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      toExpression(a.cast("long")), toExpression(lit(b))))
  }

  /** rg stays an INT partition value, capping doc_id at
    * blockSize·rangesPerGroup·2^31 (3.5×10^13 at the defaults, far above
    * the 10^12 design point; tuned layouts raise it further). Beyond the
    * cap the ANSI cast fails LOUDLY — never the silent wrong-partition
    * mapping the pre-review double division had above 2^53.
    */
  private def rgCol(blockId: org.apache.spark.sql.Column, rpg: Long) =
    longDiv(blockId, rpg).cast("int")

  /** Optional compressed-block stage (resumable like the rest): posting
    * blocks with block-max metadata for [[graft.query.BlockMaxTopK]],
    * partitioned by (term bucket, doc-id range group).
    *
    * Re-invoking after an [[addDocuments]] append folds the pending delta
    * generations in INCREMENTALLY ([[rewriteBlocks]]) — O(delta), not a
    * rebuild from the full posting store — after finishing any block
    * rewrite a crash left between its swap marker and its commit.
    * `blockSize`/`rangesPerGroup` apply to a FULL (re)build only;
    * incremental folds always use the manifest's recorded config.
    */
  def buildBlocks(spark: SparkSession, root: String,
      blockSize: Long = PostingBlocks.DefaultBlockSize,
      rangesPerGroup: Long = DefaultRangesPerGroup): Unit = {
    var m = published(spark, root)
    if (m.contains("stage.blocks.rows")) {
      if (m.getOrElse("config.blockFormat", "1") == BlockFormat) {
        if (m.contains("blocks.swap")) swapBlocks(spark, root)
        foldAppendDeltas(spark, root, readManifest(spark, root))
        return
      }
      // stale on-disk format: drop and rebuild
      dropBlocks(spark, root)
      m = readManifest(spark, root)
    }
    val nf = m("config.numFields").toInt
    val nb = m("config.nBuckets").toInt
    m = stage(spark, root, "blocks", m, partitionBy = Seq("bucket", "rg"), commit = false) {
      PostingBlocks.fromPostings(readTable(spark, root, m, "postings"), nf, blockSize)
        .toDF().withColumn("bucket", bucketOf(col("term"), nb))
        .withColumn("rg", rgCol(col("block_id"), rangesPerGroup))
        .repartition(nb, col("bucket"))
        .sortWithinPartitions(col("term"), col("block_id"))
    }
    writeManifest(spark, root, m - "blocks.pending" +
      ("config.blockSize" -> blockSize.toString) +
      ("config.blockFormat" -> BlockFormat) +
      ("config.rangesPerGroup" -> rangesPerGroup.toString))
  }

  /** Every manifest key describing block-table state (stripped whenever the
    * dir is dropped, so a phantom stage can never wedge readers/rebuilds).
    */
  private val BlockStateKeys = Seq("stage.blocks.rows", "stage.blocks.secs",
    "blocks.pending", "blocks.swap", "blocks.swap.rows", "blocks.swap.drop",
    "config.blockFormat", "config.blockSize", "config.rangesPerGroup",
    "schema.blocks")

  /** Drop the block table and all its manifest state. The next
    * [[buildBlocks]] performs a FULL build with whatever
    * blockSize/rangesPerGroup it is given — the sanctioned path for
    * re-tuning the block layout (an incremental fold always keeps the
    * recorded config, and buildBlocks on a current-format table ignores
    * new layout params). Key-strip commits before the sweep deletes the
    * dirs, so a crash between the two leaves an orphan dir that the next
    * full build overwrites — never a phantom stage.
    */
  def dropBlocks(spark: SparkSession, root: String): Unit =
    commit(spark, root, readManifest(spark, root) -- BlockStateKeys)

  private val BlockFoldTmp = "_tmp_blocks_fold"

  /** Write `m` as the manifest, then [[sweep]]. */
  private def commit(spark: SparkSession, root: String, m: Map[String, String]): Unit = {
    writeManifest(spark, root, m)
    sweep(spark, root, m)
  }

  /** Delete every catalog dir under `root` that `m` does not name: the
    * generations a commit superseded, and the orphans of a write that
    * crashed before its commit. Runs right after a commit (single writer),
    * so superseded generations never outlive the commit that retired them.
    * A staged append's promoted dirs stay until its publish commits.
    */
  private def sweep(spark: SparkSession, root: String, m: Map[String, String]): Unit = {
    val gens = deltaGens(m) ++ m.get("append.staged")
    val named = Tables.map(tableDir(m, _)).toSet ++
      gens.flatMap(g => Seq("termdict", "fieldstats").flatMap(t => Seq(s"$t.d$g", s"$t.g$g"))) ++
      Seq("blocks").filter(_ => m.contains("stage.blocks.rows")) ++
      Seq(BlockFoldTmp).filter(_ => m.contains("blocks.swap"))
    val f = fs(spark, root)
    f.listStatus(new Path(root)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && (Tables :+ "blocks" :+ BlockFoldTmp).contains(n.takeWhile(_ != '.')) &&
          !named(n))
        f.delete(st.getPath, true)
    }
  }

  /** Delta posting files of the given append generations: publishAppend
    * moves staged part-files in under `append_<g>_` names, so the fold can
    * read EXACTLY the delta — an O(delta) listing + read, never a
    * posting-store scan.
    */
  private def listAppendFiles(f: FileSystem, dir: String,
      gens: Set[String]): Seq[String] = {
    val prefixes = gens.map(g => s"append_${g}_")
    val out = Seq.newBuilder[String]
    val d = new Path(dir)
    if (f.exists(d)) f.listStatus(d).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("bucket="))
        f.listStatus(st.getPath).foreach { fl =>
          val n = fl.getPath.getName
          if (fl.isFile && prefixes.exists(n.startsWith)) out += fl.getPath.toString
        }
    }
    out.result()
  }

  /** The `bucket=X/rg=Y` group dirs under `dir`. */
  private def blockGroups(f: FileSystem, dir: String): Seq[String] = {
    val d = new Path(dir)
    if (!f.exists(d)) return Nil
    for {
      b <- f.listStatus(d).toSeq.sortBy(_.getPath.getName)
      if b.isDirectory && b.getPath.getName.startsWith("bucket=")
      r <- f.listStatus(b.getPath).toSeq.sortBy(_.getPath.getName)
      if r.isDirectory && r.getPath.getName.startsWith("rg=")
    } yield s"${b.getPath.getName}/${r.getPath.getName}"
  }

  /** Fold the pending append generations into the block table: the groups
    * are the `(bucket, rg)` pairs the delta postings touch — with fresh
    * (monotone) appended doc-ids, the delta's own new rg dirs plus at most
    * one boundary rg per bucket — and the delta is merged into their
    * decoded postings. O(delta), where the round-4 engine paid an
    * O(corpus) re-encode from the full posting store per mutation.
    */
  private def foldAppendDeltas(spark: SparkSession, root: String, m: Map[String, String]): Unit = {
    val gens = m.getOrElse("blocks.pending", "").split(",").filter(_.nonEmpty).toSeq
    if (gens.isEmpty) return
    val dir = tableDir(m, "postings")
    val deltaFiles = listAppendFiles(fs(spark, root), s"$root/$dir", gens.toSet)
    if (deltaFiles.isEmpty) { // empty delta (e.g. all-empty docs)
      writeManifest(spark, root, m - "blocks.pending"); return
    }
    // basePath keeps the hive `bucket` partition column on the explicit
    // file list
    val delta = reader(spark, m, dir).option("basePath", s"$root/$dir")
      .parquet(deltaFiles: _*)
      .withColumn("rg", rgCol(longDiv(col("doc_id"), m("config.blockSize").toLong),
        m("config.rangesPerGroup").toLong))
    val pairs = DriverAgg.sumsByKey(delta.select(concat_ws(":", col("bucket"), col("rg")).as("g"),
      lit(1L).as("n")), "g", "n").keys.toSeq
    val (bks, rgs) = pairs.map(_.split(":")).map(p => (p(0).toInt, p(1).toInt)).unzip
    // bucket/rg IN (…) partition-prunes the scan; the exact pair filter
    // keeps cartesian-extra partitions out of the rewrite
    rewriteBlocks(spark, root, m, col("bucket").isin(bks.distinct: _*) &&
      col("rg").isin(rgs.distinct: _*) && concat_ws(":", col("bucket"), col("rg")).isin(pairs: _*),
      // defense-in-depth idempotency: a doc's postings are written by
      // exactly one generation, so any old∩delta overlap is row-equal
      _.unionByName(delta.select("term", "doc_id", "tf", "fl", "occ"))
        .dropDuplicates("term", "doc_id"),
      gens)
  }

  /** Rewrite the block table's `(bucket, rg)` groups — the one block
    * rewrite, shared by the append fold and the vacuum compaction:
    *  1. `groups` picks them;
    *  2. their blocks are decoded;
    *  3. `edit` changes the decoded postings (merges a delta in, or drops
    *     the tombstoned docs);
    *  4. the result is re-encoded into `_tmp_blocks_fold`;
    *  5. one manifest write commits the `blocks.swap` marker: the folded
    *     generations, the table's new row count, and the groups that
    *     emptied (no rewritten counterpart replaces them);
    *  6–7. [[swapBlocks]] moves the groups in and commits.
    * Every block file outside the groups stays byte-identical (asserted
    * by IncrementalBlockSpec). Single-writer assumption as for all
    * mutations (see [[addDocuments]]).
    */
  private def rewriteBlocks(spark: SparkSession, root: String, m: Map[String, String],
      groups: org.apache.spark.sql.Column, edit: DataFrame => DataFrame,
      folded: Seq[String]): Unit = {
    val nf = m("config.numFields").toInt
    val nb = m("config.nBuckets").toInt
    val bs = m("config.blockSize").toLong
    val rpg = m("config.rangesPerGroup").toLong
    val tmp = s"$root/$BlockFoldTmp"
    val old = readTable(spark, root, m, "blocks").filter(groups).cache()
    // blocks per old group, in one job that also fills the cache
    val oldRows = DriverAgg.sumsByKey(old.select(concat(lit("bucket="), col("bucket"),
      lit("/rg="), col("rg")).as("g"), lit(1L).as("n")), "g", "n")
    val fresh = PostingBlocks.fromPostings(edit(PostingBlocks.toPostings(old, nf, bs)), nf, bs)
      .toDF().withColumn("bucket", bucketOf(col("term"), nb))
      .withColumn("rg", rgCol(col("block_id"), rpg))
      .repartition(col("bucket"), col("rg"))
      .sortWithinPartitions(col("term"), col("block_id"))
    val obs = org.apache.spark.sql.Observation()
    fresh.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy("bucket", "rg").parquet(tmp)
    val newRows = obs.get("rows").asInstanceOf[Long]
    old.unpersist()
    val rewritten = blockGroups(fs(spark, root), tmp).toSet
    writeManifest(spark, root, m +
      ("blocks.swap" -> folded.mkString(",")) +
      ("blocks.swap.rows" -> (m("stage.blocks.rows").toLong - oldRows.values.sum + newRows).toString) +
      ("blocks.swap.drop" -> oldRows.keys.filterNot(rewritten).toSeq.sorted.mkString(";")) +
      (schemaKey("blocks") -> schemaOf(fresh, Seq("bucket", "rg"))))
    swapBlocks(spark, root)
  }

  /** Finish the block rewrite whose `blocks.swap` marker is committed: move
    * each rewritten group dir over its live one, delete the emptied
    * groups, then commit the new row count and trim the folded generations
    * from `blocks.pending` (another append may have queued more). Re-runs
    * cleanly from a crash at any point: a moved group is gone from the tmp
    * dir, an emptied group never has a rewritten copy, and the commit is
    * last. [[readBlocks]] refuses the table while the marker is set.
    */
  private def swapBlocks(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    val m = readManifest(spark, root)
    val tmp = s"$root/$BlockFoldTmp"
    blockGroups(f, tmp).foreach { g =>
      val dst = new Path(s"$root/blocks/$g")
      f.mkdirs(dst.getParent)
      f.delete(dst, true)
      f.rename(new Path(s"$tmp/$g"), dst)
    }
    m.getOrElse("blocks.swap.drop", "").split(";").filter(_.nonEmpty)
      .foreach(g => f.delete(new Path(s"$root/blocks/$g"), true))
    val folded = m("blocks.swap").split(",").toSet
    val pending = m.getOrElse("blocks.pending", "").split(",")
      .filter(g => g.nonEmpty && !folded.contains(g))
    val base = m -- Seq("blocks.swap", "blocks.swap.rows", "blocks.swap.drop", "blocks.pending") +
      ("stage.blocks.rows" -> m("blocks.swap.rows"))
    commit(spark, root,
      if (pending.isEmpty) base else base + ("blocks.pending" -> pending.mkString(",")))
  }
  def readBlocks(spark: SparkSession, root: String): (org.apache.spark.sql.Dataset[PostingBlocks.Block], Long, Long) = {
    import spark.implicits._
    val m = readManifest(spark, root)
    // the stage key is cleared whenever the dir is dropped; a dir without
    // the key must not be served
    require(m.contains("stage.blocks.rows"),
      s"no current block stage at $root — run buildBlocks after build/vacuum/append")
    require(m.getOrElse("config.blockFormat", "1") == BlockFormat,
      s"block table at $root has format ${m.getOrElse("config.blockFormat", "1")}, " +
        s"engine expects $BlockFormat — re-run buildBlocks")
    // appended generations not yet folded in (or a mid-swap fold) mean the
    // table is missing live postings — refuse rather than serve partial
    // results; buildBlocks folds them in O(delta)
    require(m.getOrElse("blocks.pending", "").isEmpty && !m.contains("blocks.swap"),
      s"block table at $root has unfolded append deltas " +
        s"(${m.get("blocks.pending").filter(_.nonEmpty)
          .getOrElse("swap in progress")}) — re-run buildBlocks")
    val bs = m.getOrElse("config.blockSize", PostingBlocks.DefaultBlockSize.toString).toLong
    val rpg = m.getOrElse("config.rangesPerGroup", DefaultRangesPerGroup.toString).toLong
    // KEEP the bucket/rg partition columns (the Block encoder tolerates
    // extra fields): BlockMaxTopK prunes the metadata scan to the expanded
    // terms' buckets and the probe/survivor decodes to their rg dirs —
    // without them every WAND query reads the whole block store
    (readTable(spark, root, m, "blocks").as[PostingBlocks.Block], bs, rpg)
  }

  /** Incremental append — the reference's headline mutation
    * (`add_document`, "optimized for insertion speed",
    * /root/reference/README.md:6) as a batch delta: index ONLY the new
    * docs, append their postings/docstats into the existing bucket layout,
    * and merge the small dictionary/stats tables. Cost is O(delta), not
    * O(corpus). New doc keys must not collide with existing ones.
    *
    * CRASH-SAFE protocol (two phases, manifest-keyed like build()):
    *  1. STAGE: all four outputs (delta docstats, bucketed delta postings,
    *     FULL merged termdict, FULL merged fieldstats — the last two are
    *     small) are written under `_append_stage_<g>/` while the published
    *     index is untouched, then `append.staged = g` is recorded.
    *  2. PUBLISH ([[publishAppend]]): move staged part-files into the live
    *     dirs under generation-unique names, promote termdict/fieldstats
    *     into generation-NAMED dirs, then commit `append.gen = g` and the
    *     `table.*` pointers in ONE manifest write. Every step is
    *     idempotent (move-if-present, promote-if-staged-exists), so a
    *     crash anywhere is resumed by the next
    *     [[addDocuments]]/[[resumeAppend]] call — a partial append is
    *     always detectable (`append.staged` without the matching
    *     `append.gen`) and never half-applied silently.
    *
    * Reader visibility during publish: delta postings become visible
    * before the dictionary/stats commit lands — structurally consistent
    * (postings carry their own fl) with momentarily-stale df/avg, the same
    * lag shape as the reference's latent deletion. The dictionary/stats
    * swap itself is a manifest REPOINT at an already-complete generation
    * dir: the live tables are never renamed away, so there is no window —
    * crash included — where a reader finds them missing.
    *
    * SINGLE WRITER: all mutations (`addDocuments` / `removeDocuments` /
    * `vacuum`) assume one writer at a time per index root — the crash
    * protocol makes any PREFIX of a mutation resumable, but two writers
    * interleaving check-then-act guards can interleave stage dirs and
    * generation numbers. Readers are unrestricted but for one window: a
    * block rewrite's partition swap (see [[rewriteBlocks]]), during which
    * [[readBlocks]] refuses the block table while the swap marker is set.
    * A deployment with concurrent writers must serialize them externally (the
    * Iceberg-catalog binding this layout is shaped for does it with
    * optimistic commit retries). The one cross-writer hazard with a safe
    * in-engine answer — a remove landing between a running vacuum's stage
    * rewrites and its commit — is closed structurally: vacuum retires only
    * the tombstone FILES it snapshotted at stage time, so a late tombstone
    * survives the commit as a correct mask (see [[vacuum]]).
    */
  def addDocuments(docs: DataFrame, docIdCol: String, root: String,
      compactDeltasEvery: Int = 8): InvertedIndex = {
    val spark = docs.sparkSession
    resumeAppend(spark, root) // finish any interrupted predecessor first
    val g = stageAppend(docs, docIdCol, root, compactDeltasEvery)
    publishAppend(spark, root, g)
    read(spark, root)
  }

  /** Phase 1 only (STAGE): writes the four staged outputs and records
    * `append.staged` — the published index is untouched until
    * [[publishAppend]]. Exposed for the crash-resume test, which
    * "crashes" here and recovers via [[resumeAppend]]. `extra` entries
    * ride the stage-commit manifest write (the streaming ingester's
    * `stream.stagedBatch` marker — committed atomically with the stage so
    * a replayed micro-batch can recognize its own crashed attempt; see
    * [[graft.streaming.StreamingIndexer.applyBatch]]).
    */
  private[graft] def stageAppend(docs: DataFrame, docIdCol: String,
      root: String, compactDeltasEvery: Int = 8,
      extra: Map[String, String] = Map.empty): Int = {
    val spark = docs.sparkSession
    val m = published(spark, root)
    val fieldCols = m("config.fields").split(",").toSeq
    val nf = fieldCols.size
    val nb = m("config.nBuckets").toInt
    val g = m.getOrElse("append.gen", "0").toInt + 1
    val stageDir = s"$root/_append_stage_$g"
    val f = fs(spark, root)
    f.delete(new Path(stageDir), true)

    val delta = IndexBuilder.build(docs, docIdCol, fieldCols)
    val deltaPostings = delta.postings.withColumn("bucket", bucketOf(col("term"), nb))
      .repartition(nb, col("bucket"))
      .sortWithinPartitions(col("term"), col("doc_id"))
    // the schemas of the staged tables, known before they are written: the
    // reads below pin them, and the stage commit records them
    val schemas = Map(schemaKey("docstats") -> schemaOf(delta.docstats),
      schemaKey("postings") -> schemaOf(deltaPostings, Seq("bucket")))
    def staged(table: String) =
      spark.read.schema(schemas(schemaKey(table))).parquet(s"$stageDir/$table")
    delta.docstats.write.parquet(s"$stageDir/docstats")
    deltaPostings.write.partitionBy("bucket").parquet(s"$stageDir/postings")
    // dictionary/stats: a DELTA table covering only this generation's docs
    // (O(delta-vocab) — a streaming micro-batch's stage cost no longer
    // scales with the corpus vocabulary), rolled up into one merged base
    // every `compactDeltasEvery` generations so the reader-side union stays
    // bounded. The reader is [[dictParts]]/[[statsParts]]; both kinds of
    // generation dir share one schema.
    val kind = if (deltaGens(m).size + 1 >= compactDeltasEvery) "rollup" else "delta"
    val aggs = count(lit(1)).as("n") +:
      (0 until nf).map(i => coalesce(sum(element_at(col("fl"), i + 1)), lit(0L)).as(s"s$i"))
    val (termdict, fieldstats) =
      if (kind == "delta")
        (staged("postings").groupBy(col("term")).agg(sum(col("occ")).as("df")),
          staged("docstats").agg(aggs.head, aggs.tail: _*))
      else
        (termdictDf(spark, root, m)
          .select(col("term"), col("df"))
          .union(staged("postings")
            .groupBy(col("term")).agg(sum(col("occ")).as("df")))
          .groupBy(col("term")).agg(sum(col("df")).as("df")),
          // the live docstats dir already holds every prior generation's
          // rows (publishAppend moves them in), so a full re-aggregate is
          // exact
          readTable(spark, root, m, "docstats").union(staged("docstats"))
            .agg(aggs.head, aggs.tail: _*))
    val termdictOut = termdict.withColumn("bucket", bucketOf(col("term"), nb))
    termdictOut.write.parquet(s"$stageDir/termdict")
    fieldstats.write.parquet(s"$stageDir/fieldstats")
    // per-bucket lineage of the DELTA, recorded at stage time: appends must
    // not rescan the whole posting store per publish (at streaming-ingest
    // rates that is an O(corpus) metadata pass per micro-batch), so the
    // global `lineage.postings` stays as-of the last build/vacuum and each
    // append adds its own delta line.
    val deltaPerBucket = bucketLineage(staged("postings"))
    writeManifest(spark, root, readManifest(spark, root) ++ extra ++ schemas +
      (schemaKey(s"termdict.g$g") -> schemaOf(termdictOut)) +
      (schemaKey(s"fieldstats.g$g") -> schemaOf(fieldstats)) +
      ("append.staged" -> g.toString) +
      ("append.staged.kind" -> kind) +
      (s"lineage.append.$g" -> deltaPerBucket))
    g
  }

  /** Recover an append interrupted between STAGE-commit and PUBLISH-commit.
    * No-op when nothing is pending. (An interrupt BEFORE `append.staged`
    * was recorded leaves only an orphan `_append_stage_*` dir, which the
    * next append overwrites.)
    */
  def resumeAppend(spark: SparkSession, root: String): Unit = {
    val m = readManifest(spark, root)
    m.get("append.staged").foreach { g =>
      if (m.getOrElse("append.gen", "0") != g) publishAppend(spark, root, g.toInt)
    }
  }

  /** Idempotent publish of staged append generation `g`: every step checks
    * the filesystem state it is about to change, so re-running after a
    * crash at any point completes the remainder. A `stream.stagedBatch`
    * marker left by [[graft.streaming.StreamingIndexer]] is promoted to
    * `stream.lastBatch` IN the commit write — publish and batch-applied
    * are one atomic manifest transition, whichever code path finishes a
    * crashed append.
    */
  private[graft] def publishAppend(spark: SparkSession, root: String, g: Int): Unit = {
    val f = fs(spark, root)
    val stageDir = s"$root/_append_stage_$g"

    // move staged data files into the live dirs under generation-unique
    // names: a re-run skips files already moved (src gone or dst present)
    def moveFiles(srcDir: String, dstDir: String): Unit = {
      val sp = new Path(srcDir)
      if (!f.exists(sp)) return // whole dir already consumed
      f.listStatus(sp).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith("bucket="))
          moveFiles(s"$srcDir/$name", s"$dstDir/$name")
        else if (st.isFile && !name.startsWith("_") && !name.startsWith(".")) {
          val dst = new Path(s"$dstDir/append_${g}_$name")
          f.mkdirs(new Path(dstDir))
          if (!f.exists(dst)) f.rename(st.getPath, dst)
          else f.delete(st.getPath, false)
        }
      }
    }
    val m = readManifest(spark, root)
    for (t <- Seq("postings", "docstats")) moveFiles(s"$stageDir/$t", s"$root/${tableDir(m, t)}")

    // promote the small staged tables into GENERATION-NAMED dirs — delta
    // appends to `<table>.d<g>` (the base stays live; readers union it
    // with the deltas), rollups to `<table>.g<g>` (the repoint below
    // retires base + deltas). The live tables are never renamed away —
    // the single manifest write repoints atomically, so a crash anywhere
    // leaves the index readable (old manifest → old dirs, still intact).
    // Skip when the staged copy is gone AND the generation dir exists
    // (already promoted by a previous attempt).
    // legacy default "rollup" keeps the pre-delta full-merge semantics for
    // stages written by an older engine version
    val kind = m.getOrElse("append.staged.kind", "rollup")
    val gdir = if (kind == "delta") s"d$g" else s"g$g"
    def promote(table: String): Unit = {
      val staged = new Path(s"$stageDir/$table")
      val dst = new Path(s"$root/$table.$gdir")
      if (f.exists(staged)) {
        f.delete(dst, true) // partial promote from a crashed attempt
        f.rename(staged, dst)
      }
      require(f.exists(dst), s"append $g: neither staged nor promoted $table")
      ()
    }
    promote("termdict")
    promote("fieldstats")

    // commit: ONE manifest write bumps the generation, registers the delta
    // (or repoints both small tables on a rollup), clears the pending
    // marker (the delta's per-bucket lineage was recorded at stage time —
    // no O(corpus) rescan here), and marks any block stage as PENDING this
    // generation: the table stays live for readers of the pre-append
    // manifest, and the next buildBlocks folds the delta in O(delta)
    // (foldAppendDeltas) instead of rebuilding from the full posting store
    var out = promoteStreamMarker(m) - "append.staged" - "append.staged.kind" +
      ("append.gen" -> g.toString)
    out =
      if (kind == "delta")
        out + ("append.deltas" -> (deltaGens(m) :+ g.toString).mkString(","))
      else
        out - "append.deltas" +
          ("table.termdict" -> s"termdict.g$g") +
          ("table.fieldstats" -> s"fieldstats.g$g")
    if (m.contains("stage.blocks.rows")) {
      val p = m.getOrElse("blocks.pending", "")
      out += ("blocks.pending" -> (if (p.isEmpty) g.toString else s"$p,$g"))
    }
    // the sweep retires what a rollup superseded — the old base and every
    // folded delta dir (readers holding the OLD manifest race this, the
    // same already-published-read lag shape as the delta posting files
    // above); a delta append retires nothing
    commit(spark, root, out)
    f.delete(new Path(stageDir), true)
    ()
  }

  /** PERSISTED SHARD MERGE — combine independently built index roots into
    * one queryable root WITHOUT re-tokenizing, re-aggregating, or shuffling
    * any corpus-sized data. The 100-TB build topology made durable: shards
    * are built in parallel (each a bounded resumable [[build]] over its own
    * corpus slice, possibly on a different cluster), then merged here.
    *
    * Why it's cheap: every shard's posting store is hive-partitioned by
    * the SAME term-hash bucket ([[bucketOf]]), so merging postings (and
    * docstats/tombstones) is placing both shards' parquet files under the
    * shared partition dirs — O(#files) filesystem copies (renames on a
    * production cluster FS), zero compute over postings. The only COMPUTED
    * artifacts are the merged term dictionary (a vocab-sized `sum(df)`
    * union — df is the occurrence count, additive across shards) and the
    * one-row fieldstats fold. Shard append deltas are resolved through the
    * same readers queries use ([[termdictDf]]/[[fieldstatsRow]]), so the
    * output always carries a COMPACT dictionary with no delta chain.
    *
    * The block table is NOT merged: shard doc-id ranges may interleave
    * (two shards' `(bucket, rg)` dirs would collide with different doc
    * subsets), so the merged root starts blockless and [[buildBlocks]]
    * rebuilds on demand. Deployments that mint disjoint per-shard doc-id
    * RANGES can lift the shard block files verbatim — the same argument as
    * the incremental append fold — left as the documented optimization.
    *
    * Crash-safe and resumable like [[build]]: `merge.sources` pins the
    * input set first, each shard's file copy commits a `merge.copied.<i>`
    * key (copies are overwrite-idempotent under deterministic `s<i>-`
    * names), termdict/fieldstats ride the standard [[stage]] protocol, and
    * `published` is the final commit. Re-invoking after a crash at ANY
    * point resumes; re-invoking after completion is a no-op read.
    *
    * Caller contract: shards published, same field layout
    * + tokenizer + bucket count, disjoint doc_id sets, `out` empty or a
    * prior attempt over the SAME sources.
    */
  def mergeShards(spark: SparkSession, shards: Seq[String],
      out: String): InvertedIndex = {
    require(shards.size >= 2, "need at least two shards")
    val ms = shards.map(published(spark, _))
    val nf = ms.head("config.numFields")
    val fields = ms.head("config.fields")
    val nBuckets = ms.head("config.nBuckets")
    ms.zip(shards).foreach { case (m, r) =>
      require(m("config.numFields") == nf && m("config.fields") == fields &&
        m("config.nBuckets") == nBuckets,
        s"shard config mismatch at $r (fields/buckets must agree)")
    }
    var mo = readManifest(spark, out)
    if (mo.getOrElse("published", "") == "true") {
      require(mo.getOrElse("merge.sources", "") == shards.mkString(","),
        s"$out already holds a different index")
      return read(spark, out)
    }
    if (!mo.contains("merge.sources")) {
      mo = mo + ("merge.sources" -> shards.mkString(","))
      writeManifest(spark, out, mo)
    } else require(mo("merge.sources") == shards.mkString(","),
      s"$out holds a pending merge of different sources")
    val f = fs(spark, out)
    val conf = spark.sparkContext.hadoopConfiguration

    // 1. file-level union of the corpus-sized tables. Deterministic
    // target names (s<i>- prefix keeps shard files distinct under the
    // shared partition dir) make a resumed copy overwrite its own partial
    // output instead of duplicating rows.
    shards.zip(ms).zipWithIndex.foreach { case ((r, m), i) =>
      if (!mo.contains(s"merge.copied.$i")) {
        for (table <- Seq("postings", "docstats", "tombstones")) {
          val src = new Path(s"$r/${tableDir(m, table)}")
          val sf = fs(spark, r)
          if (sf.exists(src)) {
            val it = sf.listFiles(src, true)
            while (it.hasNext) {
              val st = it.next()
              if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
                val rel = st.getPath.toString.stripPrefix(
                  sf.makeQualified(src).toString).stripPrefix("/")
                val dir = rel.lastIndexOf('/') match {
                  case -1 => ""
                  case k  => rel.substring(0, k + 1)
                }
                val dst = new Path(
                  s"$out/$table/${dir}s$i-${st.getPath.getName}")
                org.apache.hadoop.fs.FileUtil.copy(sf, st.getPath, f, dst,
                  false, true, conf)
              }
            }
          }
        }
        mo = mo + (s"merge.copied.$i" -> "true")
        writeManifest(spark, out, mo)
      }
    }

    // 2. merged dictionary: vocab-sized, delta-resolved per shard, df
    // summed per (term, bucket), term-range-sorted like build's
    mo = stage(spark, out, "termdict", mo) {
      shards.zip(ms).map { case (r, m) => termdictDf(spark, r, m) }
        .reduce(_.unionByName(_))
        .groupBy(col("term"), col("bucket")).agg(sum(col("df")).as("df"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"))
    }
    // 3. fieldstats: one-row arithmetic fold of the shards' (delta-resolved)
    // stats rows — additive by construction
    mo = stage(spark, out, "fieldstats", mo) {
      val nfi = nf.toInt
      val stats = shards.map(storedFieldStats(spark, _))
      val cols = lit(stats.map(_.n).sum).as("n") +: (0 until nfi).map(i =>
        lit(stats.map(_.sums(i)).sum).as(s"s$i"))
      spark.range(1).select(cols: _*)
    }

    // 4. lineage + config + publish. Per-bucket lineage is the sum of the
    // shards' counts (the same invariant build records). A shard's total
    // is its base `lineage.postings` PLUS every `lineage.append.<g>`
    // delta line — appended generations' files were moved into postings/
    // at publish, so their rows are in the copied store and must be in
    // the folded lineage (vacuum folds deltas back into the base, so no
    // double count is possible).
    if (mo.getOrElse("published", "") != "true") {
      val perBucket = ms.flatMap(m =>
        m.collect { case (k, v)
            if k == "lineage.postings" || k.startsWith("lineage.append.") =>
          v }
          .flatMap(_.split(";").filter(_.nonEmpty))
          .map { kv => val Array(b, c) = kv.split("="); (b.toInt, c.toLong) })
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
        .map { case (b, c) => s"$b=$c" }.mkString(";")
      // the copied tables keep the shards' schemas when all of them agree
      val copiedSchemas = Seq("postings", "docstats").map(schemaKey)
        .flatMap(k => ms.map(_.get(k)).distinct match {
          case Seq(Some(ddl)) => Some(k -> ddl)
          case _ => None
        })
      mo = mo ++ copiedSchemas + ("lineage.postings" -> perBucket) +
        ("config.nBuckets" -> nBuckets) +
        ("config.numFields" -> nf) +
        ("config.fields" -> fields) +
        ("published" -> "true")
      writeManifest(spark, out, mo)
    }
    read(spark, out)
  }

  /** Persisted remove, DataFrame-native (reference `remove_document`
    * lazy-delete): the tombstone set is appended as a parquet write of a
    * DISTRIBUTED id set — a predicate-derived removal of 10^11 docs never
    * transits the driver. The first column of `ids` is the doc key.
    *
    * A remove may land at any point of a running [[vacuum]]: the vacuum
    * retires only the tombstone files it snapshotted before it read the
    * index, so a later tombstone survives its commit and keeps masking
    * its doc until the next vacuum purges it.
    */
  def removeDocuments(root: String, ids: DataFrame): Unit = {
    ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      .write.mode("append").parquet(s"$root/tombstones")
  }

  /** Driver-side convenience overload (small ad-hoc removals). Removing no
    * id writes nothing.
    */
  def removeDocuments(spark: SparkSession, root: String, ids: Seq[Long]): Unit =
    if (ids.nonEmpty) {
      import spark.implicits._
      removeDocuments(root, ids.toDF("doc_id"))
    }

  // ---- fuzzy expansion at scale: the deletion-variant table ----

  /** `{s} ∪ {s with character i deleted}` as a Spark column — the
    * symmetric-delete neighborhood for maxEdits = 1. Character-based
    * (`substring`/`length` count code points), matching Spark's
    * `levenshtein`. MUST stay definitionally identical to
    * [[deletionVariantsDriver]] (asserted by FuzzySpec): the query side
    * generates its variants on the driver, the dictionary side here, and a
    * mismatch silently loses candidates.
    */
  private[graft] def deletionVariantsCol(term: org.apache.spark.sql.Column) =
    // greatest(…, 0): a zero-length term (unreachable — the tokenizer drops
    // empties — but sequence(0, -1) would DESCEND into [0, -1]) degrades to
    // the identity variant instead of corrupt substrings
    array_distinct(concat(
      array(term),
      transform(sequence(lit(0), greatest(length(term) - 1, lit(0))), i =>
        concat(term.substr(lit(1), i), term.substr(i + lit(2), lit(Int.MaxValue))))))

  /** Driver-side mirror of [[deletionVariantsCol]] for the query term. */
  private[graft] def deletionVariantsDriver(term: String): Seq[String] =
    (term +: term.indices.map(i => term.substring(0, i) + term.substring(i + 1))).distinct

  /** Build the persisted deletion-variant table (`fuzzydict/`) for
    * fuzzy (Levenshtein ≤ 1) term expansion at scale — the SymSpell
    * observation: `lev(a,b) ≤ 1 ⇔ D₁(a) ∩ D₁(b) ≠ ∅` where
    * `D₁(x) = {x} ∪ {x minus one character}`. Each BASE-dictionary term is
    * stored once per variant, hive-partitioned by `vbucket =
    * pmod(xxhash64(variant), nBuckets)`; a query then probes `O(len(q))`
    * variants with `vbucket IN (…) AND variant IN (…)` — partition-pruned
    * point lookups — instead of running `levenshtein` across the whole
    * vocabulary (O(vocab) per query, the brute path
    * [[graft.query.QueryEngine.query]] uses without this table).
    *
    * Coverage protocol (NO per-append maintenance cost): the table covers
    * the BASE dictionary generation it was built from (`fuzzy.base`).
    * Append DELTAS are not folded in — [[fuzzyCandidateDict]] brute-scans
    * the ≤G small delta dictionaries per query (O(delta-vocab), the same
    * cost shape as the delta-dictionary reads themselves). A ROLLUP or
    * vacuum retires the base generation; the next [[fuzzyCandidateDict]]
    * then refuses until buildFuzzy is re-run (dictionary-sized, not
    * corpus-sized). Resumable like every stage; idempotent when current.
    */
  def buildFuzzy(spark: SparkSession, root: String): Unit = {
    var m = published(spark, root)
    val base = tableDir(m, "termdict")
    if (m.contains("stage.fuzzydict.rows")) {
      if (m.getOrElse("fuzzy.base", "") == base) return // current
      // stale (base dictionary rolled up / vacuumed): strip keys and
      // rebuild — key-strip commits first so a crash never leaves a
      // phantom stage over a half-rebuilt dir
      writeManifest(spark, root, m -- Seq("stage.fuzzydict.rows",
        "stage.fuzzydict.secs", "fuzzy.base", schemaKey("fuzzydict")))
      fs(spark, root).delete(new Path(s"$root/fuzzydict"), true)
      m = readManifest(spark, root)
    }
    val nb = m("config.nBuckets").toInt
    m = stage(spark, root, "fuzzydict", m, partitionBy = Seq("vbucket")) {
      readTable(spark, root, m, base)
        .select(col("term")).distinct()
        .select(col("term"), explode(deletionVariantsCol(col("term"))).as("variant"))
        .withColumn("vbucket", bucketOf(col("variant"), nb))
        .repartition(nb, col("vbucket"))
        .sortWithinPartitions(col("variant"), col("term"))
    }
    writeManifest(spark, root, m + ("fuzzy.base" -> base))
  }

  /** Pruned live-dictionary view for fuzzy resolution: rows
    * `(term, df, bucket)` covering a SUPERSET of the dictionary terms
    * within `maxEdits` edits of any query term (the resolver verifies with
    * `levenshtein` — this view only prunes). Base vocabulary via the
    * variant table (partition-pruned point lookups); append-delta
    * vocabulary via an O(delta) scan of the small delta dictionaries. The
    * returned plan filters [[termdictDf]] (the live view), so df is always
    * the correct base+delta sum. Falls back to a length-window full-dict
    * view if the candidate set exceeds `cap` (pathological only —
    * candidates are bounded by the query terms' variant-bucket sizes).
    */
  private[graft] def fuzzyCandidateDict(spark: SparkSession, root: String,
      qterms: Seq[String], maxEdits: Int, cap: Int = 4096): DataFrame = {
    import spark.implicits._
    require(maxEdits == 1,
      s"the persisted variant table covers maxEdits = 1 (got $maxEdits); " +
        "use the brute dictionary path for larger radii")
    val m = readManifest(spark, root)
    require(m.contains("stage.fuzzydict.rows"),
      s"no fuzzy variant table at $root — run IndexCatalog.buildFuzzy")
    require(m.getOrElse("fuzzy.base", "") == tableDir(m, "termdict"),
      s"fuzzy variant table at $root was built against a retired base " +
        "dictionary generation — re-run IndexCatalog.buildFuzzy")
    val nb = m("config.nBuckets").toInt
    val live = termdictDf(spark, root, m)

    val qvars = qterms.flatMap(deletionVariantsDriver).distinct
    // variant → vbucket via one LOCAL-relation job (xxhash64 must be
    // Spark's own — never reimplemented driver-side)
    val vbs = qvars.toDF("variant")
      .select(bucketOf(col("variant"), nb).as("vb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val probed = readTable(spark, root, m, "fuzzydict")
      .filter(col("vbucket").isin(vbs: _*) && col("variant").isin(qvars: _*))
      .select(col("term")).distinct()
      .limit(cap + 1).collect().map(_.getString(0))
    val lenWindow = qterms.map(t =>
      length(col("term")).between(t.length - maxEdits, t.length + maxEdits))
      .reduce(_ || _)
    if (probed.length > cap) return live.filter(lenWindow) // graceful fallback
    // delta-dictionary vocabulary (appended after the fuzzy build): tiny
    // tables, scanned with the length prefilter only — the resolver's
    // levenshtein verification handles precision
    val gs = deltaGens(m)
    val deltaTerms =
      if (gs.isEmpty) Array.empty[String]
      else gs.map(g => readTable(spark, root, m, s"termdict.d$g"))
        .reduce(_.unionByName(_))
        .filter(lenWindow).select(col("term")).distinct()
        .limit(cap + 1).collect().map(_.getString(0))
    if (deltaTerms.length > cap) return live.filter(lenWindow)
    val candSet = (probed ++ deltaTerms).distinct.toSeq
    live.filter(col("term").isin(candSet: _*))
  }

  /** Persisted vacuum (reference `vacuum`): a new generation of the index
    * without the tombstoned docs. [[writeTables]] — build's own table
    * writers — writes the live docstats, postings, termdict and fieldstats
    * into fresh `<table>.v<n>` dirs, and ONE manifest write repoints all
    * four tables, folds the append-delta dictionaries away and records the
    * lineage; the sweep then deletes the superseded generation. Before
    * that, a current-format block table is compacted incrementally
    * ([[rewriteBlocks]] over the rg groups holding tombstoned ids); any
    * other block table is dropped in the same commit.
    *
    * A crash before the commit leaves only orphan dirs (the next sweep
    * deletes them) and the tombstones in place: re-running the vacuum
    * redoes it. The tombstone files are retired after the commit, and only
    * those listed before the index was read — a remove landing mid-vacuum
    * keeps masking its doc.
    */
  def vacuum(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    // a staged-but-unpublished append must land BEFORE the compaction:
    // its staged termdict/fieldstats were merged against the pre-vacuum
    // corpus, and publishing them after the rewrite would resurrect the
    // purged docs' df/stats
    resumeAppend(spark, root)
    val tombDir = new Path(s"$root/tombstones")
    if (!f.exists(tombDir)) return
    val retired = f.listStatus(tombDir).filter(_.isFile).map(_.getPath)
    val idx = read(spark, root)
    if (idx.hasTombstones) {
      if (readManifest(spark, root).contains("blocks.swap")) swapBlocks(spark, root)
      var m = readManifest(spark, root)
      // a current-format table with no unfolded append deltas is compacted
      // in place: only the rg groups holding tombstoned ids are re-encoded
      val incremental = m.contains("stage.blocks.rows") &&
        m.getOrElse("config.blockFormat", "1") == BlockFormat &&
        m.getOrElse("blocks.pending", "").isEmpty
      if (incremental) {
        val bs = m("config.blockSize").toLong
        val rpg = m("config.rangesPerGroup").toLong
        // the rg of each tombstoned id: on the driver when the ids are held
        // there (the same exact long division as rgCol)
        val rgs = idx.tombstoneIds match {
          case Some(ids) => ids.map(id => Math.toIntExact(id / bs / rpg)).distinct.toSeq
          case None => idx.tombstones.select(rgCol(longDiv(col("doc_id"), bs), rpg)
            .as("rg")).distinct().collect().map(_.getInt(0)).toSeq
        }
        if (rgs.nonEmpty) {
          rewriteBlocks(spark, root, m, col("rg").isin(rgs: _*), idx.withoutTombstoned, Nil)
          m = readManifest(spark, root)
        }
      }
      val gen = tableDir(m, "postings").stripPrefix("postings.v").toIntOption.fold(1)(_ + 1)
      val stale = m.keys.filter(k => k.startsWith("lineage.") || k.startsWith("table.") ||
        Tables.exists(t => k.startsWith(s"stage.$t.")))
      val next = (m -- stale - "append.deltas" -- (if (incremental) Nil else BlockStateKeys)) ++
        Tables.map(t => s"table.$t" -> s"$t.v$gen")
      commit(spark, root, writeTables(spark, root, next, idx.numFields,
        m("config.nBuckets").toInt, idx.liveDocstats, idx.livePostings, commit = false))
    }
    retired.foreach(f.delete(_, false))
    if (!f.listStatus(tombDir).exists(st => st.isFile && isDataFile(st.getPath.getName)))
      f.delete(tombDir, true)
    ()
  }
}
