package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexCatalog}
import graft.query.QueryEngine
import graft.score.BM25

/** Persisted catalog: parity with the in-memory index, resumable stages,
  * partition pruning, tombstone/vacuum lifecycle, sha invariant.
  */
class PersistedIndexSpec extends TestBase {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_idx_").toString

  private def twoFieldDocs = {
    import spark.implicits._
    Seq((0L, "abc", "dfg"), (1L, "dfgh", "abcd")).toDF("id", "title", "description")
  }

  test("persisted index reproduces golden BM25 scores") {
    val root = tmpRoot()
    IndexCatalog.build(twoFieldDocs, "id", Seq("title", "description"), root, nBuckets = 8)
    val idx = IndexCatalog.read(spark, root)
    assertScores(
      QueryEngine.query(idx, "abc", BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      Seq((0L, 0.6931471805599453), (1L, 0.28104699650060755)))
  }

  test("rebuild resumes: completed stages are skipped") {
    val root = tmpRoot()
    IndexCatalog.build(twoFieldDocs, "id", Seq("title", "description"), root, nBuckets = 8)
    val manifest1 = Files.readString(java.nio.file.Paths.get(s"$root/manifest.json"))
    // second invocation must be a no-op on the artifact (same manifest)
    IndexCatalog.build(twoFieldDocs, "id", Seq("title", "description"), root, nBuckets = 8)
    val manifest2 = Files.readString(java.nio.file.Paths.get(s"$root/manifest.json"))
    assert(manifest1 == manifest2)
    assert(manifest1.contains("stage.postings.rows"))
    assert(manifest1.contains("lineage.postings"))
  }

  test("mid-build crash resume: completed stages are reused, not recomputed") {
    val root = tmpRoot()
    IndexCatalog.build(twoFieldDocs, "id", Seq("title", "description"), root, nBuckets = 8)
    // simulate dying after the postings stage: drop the later stages from
    // disk and manifest, as an interrupted run would leave them
    val mPath = java.nio.file.Paths.get(s"$root/manifest.json")
    val manifest = Files.readString(mPath)
    val truncated = manifest.linesIterator.filterNot(l =>
      l.contains("stage.termdict") || l.contains("stage.fieldstats") ||
        l.contains("lineage.") || l.contains("published"))
      .mkString("\n")
      // keep JSON shape: last remaining entry must not end with a comma
      .replaceAll(",\\s*\\n\\}", "\n}").replaceAll(",$", "")
    Files.writeString(mPath, truncated.replaceAll(",(\\s*)\\}", "$1}"))
    // the engine writes through Hadoop LocalFS which keeps a .crc sidecar;
    // this test's out-of-band edit must drop it or reads fail the checksum
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/.manifest.json.crc"))
    def rm(p: String): Unit = {
      val d = new java.io.File(p)
      if (d.exists) { d.listFiles.foreach(f => if (f.isFile) f.delete()); d.delete() }
      ()
    }
    rm(s"$root/termdict"); rm(s"$root/fieldstats")
    val postingFiles = new java.io.File(TestCatalog.tablePath(root, "postings")).listFiles().map(f =>
      f.getName -> f.lastModified).toMap

    // resume feeds DIFFERENT (poisoned) docs: completed stages must come
    // from disk, so the poison must NOT leak into postings
    import spark.implicits._
    val poisoned = Seq((0L, "poison", "poison"), (1L, "poison", "poison"))
      .toDF("id", "title", "description")
    val idx = IndexCatalog.build(poisoned, "id", Seq("title", "description"), root, nBuckets = 8)
    val after = new java.io.File(TestCatalog.tablePath(root, "postings")).listFiles().map(f =>
      f.getName -> f.lastModified).toMap
    assert(after == postingFiles, "postings stage was recomputed on resume")
    assert(idx.termdict.filter(org.apache.spark.sql.functions.col("term") === "poison").count() == 0)
    assertScores(
      QueryEngine.query(idx, "abc", BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      Seq((0L, 0.6931471805599453), (1L, 0.28104699650060755)))
  }

  test("query plan prunes posting partitions by bucket") {
    val root = tmpRoot()
    IndexCatalog.build(twoFieldDocs, "id", Seq("title", "description"), root, nBuckets = 8)
    val idx = IndexCatalog.read(spark, root)
    val plan = QueryEngine.query(idx, "abc", BM25())
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"expected bucket partition pruning in plan:\n$plan")
  }

  test("persisted tombstones + vacuum lifecycle matches the reference") {
    val root = tmpRoot()
    IndexCatalog.build(twoFieldDocs, "id", Seq("title", "description"), root, nBuckets = 8)
    IndexCatalog.removeDocuments(spark, root, Seq(0L))
    val tombstoned = IndexCatalog.read(spark, root)
    assertScores(
      QueryEngine.query(tombstoned, "abc", BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      Seq((1L, 0.1166450426074421)))
    IndexCatalog.vacuum(spark, root)
    val vacuumed = IndexCatalog.read(spark, root)
    assert(!vacuumed.hasTombstones)
    assert(vacuumed.postings.filter(col("doc_id") === 0L).count() == 0)
    assertScores(
      QueryEngine.query(vacuumed, "abc", BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      Seq((1L, 0.1166450426074421)))
  }

  test("synthetic source_code corpus is deterministic + sha invariant holds") {
    val a = graft.tools.SourceCodeGen.generate(spark, 200)
    val b = graft.tools.SourceCodeGen.generate(spark, 200)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // per-row invariant: stored sha == sha256(content) after a round trip
    val root = tmpRoot()
    a.write.parquet(s"$root/src")
    val back = spark.read.parquet(s"$root/src")
    assert(back.filter(sha2(col("content"), 256) =!= col("sha")).count() == 0)
    assert(back.count() == 200)
  }

  test("persisted large-ish build parity with in-memory on source_code") {
    val root = tmpRoot()
    val src = graft.tools.SourceCodeGen.generate(spark, 500)
    val p = IndexCatalog.build(src, "doc_id", Seq("content", "path"), root, nBuckets = 16)
    val m = IndexBuilder.build(src, "doc_id", Seq("content", "path"))
    val q = "import ident7 Modu"
    val rp = QueryEngine.query(p, q, BM25()).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val rm = QueryEngine.query(m, q, BM25()).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rp.toSeq == rm.toSeq)
    assert(rp.nonEmpty)
  }
}
