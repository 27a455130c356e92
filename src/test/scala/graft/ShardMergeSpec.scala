package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.index.{IndexCatalog, PostingBlocks}
import graft.query.{BlockMaxTopK, QueryEngine}
import graft.score.BM25
import graft.tools.SourceCodeGen

/** Persisted shard merge ([[IndexCatalog.mergeShards]]): the 100-TB build
  * topology — shards built independently (each a bounded resumable build
  * over its own corpus slice), merged file-level into one queryable root.
  * Pinned against the SINGLE-BUILD index over the same corpus: queries,
  * dictionary, stats, WAND service, tombstone carry-over, and the
  * crash/resume + no-op re-invoke protocol.
  */
class ShardMergeSpec extends TestBase {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_merge_").toString

  private def results(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Corpus split by doc-id parity into two independently built roots. */
  private def buildShards(n: Int): (org.apache.spark.sql.DataFrame, String, String) = {
    val src = SourceCodeGen.generate(spark, n)
    val (a, b) = (tmpRoot() + "/A", tmpRoot() + "/B")
    IndexCatalog.build(src.filter(col("doc_id") % 2 === 0),
      "doc_id", Seq("content", "path"), a, nBuckets = 8)
    IndexCatalog.build(src.filter(col("doc_id") % 2 === 1),
      "doc_id", Seq("content", "path"), b, nBuckets = 8)
    (src, a, b)
  }

  test("persisted merge == single build: queries, dictionary, stats, WAND") {
    val (src, a, b) = buildShards(500)
    val full = tmpRoot() + "/F"
    IndexCatalog.build(src, "doc_id", Seq("content", "path"), full, nBuckets = 8)
    val out = tmpRoot() + "/M"
    val merged = IndexCatalog.mergeShards(spark, Seq(a, b), out)
    val single = IndexCatalog.read(spark, full)

    // dictionary: df summed across shards == single-build df
    val md = merged.termdict.collect().map(r => r.getString(0) -> r.getAs[Long]("df")).toMap
    val fd = single.termdict.collect().map(r => r.getString(0) -> r.getAs[Long]("df")).toMap
    assert(md == fd && md.nonEmpty)

    // stats fold: N and per-field sums additive
    val ms = merged.fieldStats(); val fs = single.fieldStats()
    assert(ms.n == fs.n && ms.sums.sameElements(fs.sums))

    // exhaustive scores identical on several query shapes
    for (q <- Seq("import", "ident1 val", "Modu def"))
      assert(results(QueryEngine.query(merged, q, BM25())) ==
        results(QueryEngine.query(single, q, BM25())), s"merge != single for '$q'")

    // the merged root serves WAND: blocks build on demand, top-k == exhaustive
    IndexCatalog.buildBlocks(spark, out, blockSize = 128, rangesPerGroup = 4)
    val (blocks, bs, rpg) = IndexCatalog.readBlocks(spark, out)
    val wand = results(BlockMaxTopK.query(merged, blocks, "import ident2", BM25(),
      k = 15, blockSize = bs, rangesPerGroup = rpg))
    val exact = results(QueryEngine.query(single, "import ident2", BM25(), limit = 15))
    assert(wand == exact && wand.nonEmpty)
  }

  test("re-invoke after publish is a no-op read; different sources refused") {
    val (_, a, b) = buildShards(120)
    val out = tmpRoot() + "/M"
    IndexCatalog.mergeShards(spark, Seq(a, b), out)
    val m1 = Files.readString(java.nio.file.Paths.get(s"$out/manifest.json"))
    val again = IndexCatalog.mergeShards(spark, Seq(a, b), out)
    val m2 = Files.readString(java.nio.file.Paths.get(s"$out/manifest.json"))
    assert(m1 == m2)
    assert(results(QueryEngine.query(again, "import", BM25())).nonEmpty)
    // same out dir, different source list → refuse loudly
    intercept[IllegalArgumentException](
      IndexCatalog.mergeShards(spark, Seq(b, a), out))
  }

  test("crash resume: interrupted copy + lost stages finish without duplication") {
    val (src, a, b) = buildShards(200)
    val out = tmpRoot() + "/M"
    IndexCatalog.mergeShards(spark, Seq(a, b), out)
    def postingFiles() = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (!d.exists) Nil
        else d.listFiles.toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(TestCatalog.tablePath(out, "postings")))
        .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    }
    val filesBefore = postingFiles()
    val q = results(QueryEngine.query(IndexCatalog.read(spark, out), "ident1 val", BM25()))

    // simulate dying after shard 0's copy but before shard 1 finished and
    // before any computed stage: drop shard-1's copy marker, all stage
    // keys, and the publish, and delete the computed dirs — the exact
    // manifest a crash mid-merge leaves (copies are overwrite-idempotent,
    // so a HALF-copied shard 1 is also covered by the full re-copy)
    val mPath = java.nio.file.Paths.get(s"$out/manifest.json")
    val kept = Files.readString(mPath).linesIterator.filterNot(l =>
      l.contains("merge.copied.1") || l.contains("stage.") ||
        l.contains("lineage.") || l.contains("published") ||
        l.contains("config.")).mkString("\n")
      .replaceAll(",(\\s*)\\}", "$1}").replaceAll(",$", "")
    Files.writeString(mPath, kept)
    Files.deleteIfExists(java.nio.file.Paths.get(s"$out/.manifest.json.crc"))
    def rm(p: String): Unit = {
      val d = new java.io.File(p)
      if (d.exists) { d.listFiles.foreach(f => if (f.isFile) f.delete()); d.delete() }
      ()
    }
    rm(s"$out/termdict"); rm(s"$out/fieldstats")

    val resumed = IndexCatalog.mergeShards(spark, Seq(a, b), out)
    // deterministic s<i>- names: the re-copy overwrote, never duplicated
    assert(postingFiles() == filesBefore)
    assert(results(QueryEngine.query(resumed, "ident1 val", BM25())) == q)
    // full parity against a fresh single build as the final word
    val full = tmpRoot() + "/F"
    IndexCatalog.build(src, "doc_id", Seq("content", "path"), full, nBuckets = 8)
    assert(q == results(QueryEngine.query(IndexCatalog.read(spark, full), "ident1 val", BM25())))
  }

  test("refuses mismatched shard configs and unpublished shards") {
    val src = SourceCodeGen.generate(spark, 60)
    val one = tmpRoot() + "/one"; val two = tmpRoot() + "/two"
    IndexCatalog.build(src, "doc_id", Seq("content"), one, nBuckets = 8)
    IndexCatalog.build(src, "doc_id", Seq("content", "path"), two, nBuckets = 8)
    intercept[IllegalArgumentException](
      IndexCatalog.mergeShards(spark, Seq(one, two), tmpRoot() + "/M"))
    // bucket-count mismatch is equally fatal (postings placement differs)
    val three = tmpRoot() + "/three"
    IndexCatalog.build(src, "doc_id", Seq("content"), three, nBuckets = 4)
    intercept[IllegalArgumentException](
      IndexCatalog.mergeShards(spark, Seq(one, three), tmpRoot() + "/M"))
    // unpublished (empty) shard root
    intercept[IllegalArgumentException](
      IndexCatalog.mergeShards(spark, Seq(one, tmpRoot() + "/empty"), tmpRoot() + "/M"))
  }

  test("three-way merge with an appended shard: delta chains resolve compact") {
    val src = SourceCodeGen.generate(spark, 300)
    val roots = (0 until 3).map(i => tmpRoot() + s"/S$i")
    // shard 0 is built in two generations (build + append) so its manifest
    // carries an append-delta dictionary chain into the merge
    IndexCatalog.build(src.filter(col("doc_id") % 3 === 0 && col("doc_id") < 150),
      "doc_id", Seq("content", "path"), roots(0), nBuckets = 8)
    IndexCatalog.addDocuments(src.filter(col("doc_id") % 3 === 0 && col("doc_id") >= 150),
      "doc_id", roots(0))
    assert(Files.readString(java.nio.file.Paths.get(s"${roots(0)}/manifest.json"))
      .contains("append.deltas"))
    IndexCatalog.build(src.filter(col("doc_id") % 3 === 1),
      "doc_id", Seq("content", "path"), roots(1), nBuckets = 8)
    IndexCatalog.build(src.filter(col("doc_id") % 3 === 2),
      "doc_id", Seq("content", "path"), roots(2), nBuckets = 8)
    val out = tmpRoot() + "/M3"
    val merged = IndexCatalog.mergeShards(spark, roots, out)
    // output dictionary is COMPACT: no delta chain in manifest or on disk
    val mo = Files.readString(java.nio.file.Paths.get(s"$out/manifest.json"))
    assert(!mo.contains("append.deltas"))
    assert(!new java.io.File(out).listFiles.exists(_.getName.startsWith("termdict.d")))
    // parity with the single build: dictionary, stats, scores
    val full = tmpRoot() + "/F"
    IndexCatalog.build(src, "doc_id", Seq("content", "path"), full, nBuckets = 8)
    val single = IndexCatalog.read(spark, full)
    val md = merged.termdict.collect().map(r => r.getString(0) -> r.getAs[Long]("df")).toMap
    val fd = single.termdict.collect().map(r => r.getString(0) -> r.getAs[Long]("df")).toMap
    assert(md == fd && md.nonEmpty)
    assert(merged.fieldStats().n == single.fieldStats().n)
    for (q <- Seq("import", "ident1 val"))
      assert(results(QueryEngine.query(merged, q, BM25())) ==
        results(QueryEngine.query(single, q, BM25())), s"3-way merge != single for '$q'")
    // lineage invariant: the merged manifest's per-bucket counts equal the
    // ACTUAL rows of the merged posting store — shard 0's append-delta
    // lines must be folded in, not just its stale base lineage
    val lineage = mo.split("\"lineage.postings\"\\s*:\\s*\"")(1).split("\"")(0)
      .split(";").filter(_.nonEmpty)
      .map { kv => val Array(b, c) = kv.split("="); (b.toInt, c.toLong) }.toMap
    val actual = spark.read.parquet(TestCatalog.tablePath(out, "postings"))
      .groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(lineage == actual,
      s"merged lineage $lineage != actual per-bucket rows $actual")
  }

  test("shard tombstones carry into the merged root") {
    val (src, a, b) = buildShards(300)
    val removed = src.filter(col("doc_id") % 2 === 0)
      .select("doc_id").limit(4).collect().map(_.getLong(0)).toSeq
    IndexCatalog.removeDocuments(spark, a, removed)
    val out = tmpRoot() + "/M"
    val merged = IndexCatalog.mergeShards(spark, Seq(a, b), out)
    assert(merged.hasTombstones)
    val got = results(QueryEngine.query(merged, "import ident2", BM25()))
    assert(got.nonEmpty && !got.exists { case (id, _) => removed.contains(id) })
    // equivalent single lifecycle: full build then the same removal
    val full = tmpRoot() + "/F"
    IndexCatalog.build(src, "doc_id", Seq("content", "path"), full, nBuckets = 8)
    IndexCatalog.removeDocuments(spark, full, removed)
    assert(got == results(QueryEngine.query(IndexCatalog.read(spark, full), "import ident2", BM25())))
  }
}
