package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexCatalog}
import graft.query.QueryEngine
import graft.score.BM25
import graft.streaming.StreamingIndexer

/** Incremental append + streaming ingestion: a persisted index extended by
  * deltas must be indistinguishable from one built over the union.
  */
class IncrementalSpec extends TestBase {

  private def batch(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("id", "title", "description")
  }

  private val batchA = Seq((0L, "abc", "dfg"), (1L, "dfgh", "abcd"))
  private val batchB = Seq((2L, "abc abc", "xyz"), (3L, "zzz", "abcf"))

  test("addDocuments(delta) == build(union) for queries, stats, df") {
    val root = Files.createTempDirectory("graft_incr_").toString
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 8)
    val incr = IndexCatalog.addDocuments(batch(batchB), "id", root)
    val full = IndexBuilder.build(batch(batchA ++ batchB), "id", Seq("title", "description"))

    for (q <- Seq("abc", "ab", "dfg zzz", "xyz")) {
      val a = QueryEngine.query(incr, q, BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = QueryEngine.query(full, q, BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"query '$q': incremental=$a vs full=$b")
    }
    val sa = incr.fieldStats(); val sb = full.fieldStats()
    assert(sa.n == sb.n && sa.sums.toSeq == sb.sums.toSeq)
    assert(incr.termdict.select("term", "df").exceptAll(full.termdict).count() == 0)
  }

  test("appends compose with tombstones and vacuum") {
    val root = Files.createTempDirectory("graft_incr2_").toString
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 8)
    IndexCatalog.addDocuments(batch(batchB), "id", root)
    IndexCatalog.removeDocuments(spark, root, Seq(0L, 2L))
    IndexCatalog.vacuum(spark, root)
    val idx = IndexCatalog.read(spark, root)
    val full = IndexBuilder.build(batch(Seq(batchA(1), batchB(1))), "id",
      Seq("title", "description"))
    val a = QueryEngine.query(idx, "abc", BM25()).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = QueryEngine.query(full, "abc", BM25()).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("append crash between STAGE and PUBLISH is detected and resumed") {
    val root = Files.createTempDirectory("graft_incr3_").toString
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 8)

    // "crash" after phase 1: staged outputs + append.staged marker exist,
    // the published index is untouched
    IndexCatalog.stageAppend(batch(batchB), "id", root)
    val before = IndexCatalog.read(spark, root)
    assert(before.docstats.count() == 2,
      "published index must be untouched by a staged-only append")

    // recovery completes the publish idempotently
    IndexCatalog.resumeAppend(spark, root)
    val idx = IndexCatalog.read(spark, root)
    val full = IndexBuilder.build(batch(batchA ++ batchB), "id",
      Seq("title", "description"))
    assert(idx.docstats.count() == 4)
    assert(idx.termdict.select("term", "df").exceptAll(full.termdict).count() == 0)
    val a = QueryEngine.query(idx, "abc", BM25()).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = QueryEngine.query(full, "abc", BM25()).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
    // a second resume is a no-op (idempotent commit)
    IndexCatalog.resumeAppend(spark, root)
    assert(IndexCatalog.read(spark, root).docstats.count() == 4)
  }

  test("vacuum lands a pending staged append before compacting") {
    val root = Files.createTempDirectory("graft_incr4_").toString
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 8)
    IndexCatalog.stageAppend(batch(batchB), "id", root) // "crash" before publish
    IndexCatalog.removeDocuments(spark, root, Seq(0L))
    IndexCatalog.vacuum(spark, root) // must resume the append FIRST
    val idx = IndexCatalog.read(spark, root)
    val full = IndexBuilder.build(
      batch((batchA ++ batchB).filterNot(_._1 == 0L)), "id",
      Seq("title", "description"))
    assert(idx.docstats.count() == 3)
    // df/stats must reflect (A ∪ B) − removed, not the pre-vacuum corpus
    assert(idx.termdict.select("term", "df").exceptAll(full.termdict).count() == 0 &&
      full.termdict.exceptAll(idx.termdict.select("term", "df")).count() == 0)
    val sa = idx.fieldStats(); val sb = full.fieldStats()
    assert(sa.n == sb.n && sa.sums.toSeq == sb.sums.toSeq)
  }

  test("crash between table promote and manifest commit leaves index readable") {
    val root = Files.createTempDirectory("graft_incr5_").toString
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 8)
    IndexCatalog.stageAppend(batch(batchB), "id", root)
    // simulate dying INSIDE publishAppend, after the delta-dir promotes
    // but before the manifest commit: the staged small DELTA tables sit in
    // termdict.d1/fieldstats.d1, the manifest has no append.deltas entry
    // for them — readers must get the intact PRE-append index
    val g = 1
    for (t <- Seq("termdict", "fieldstats")) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$root/_append_stage_$g/$t"),
        java.nio.file.Paths.get(s"$root/$t.d$g"))
    }
    val before = IndexCatalog.read(spark, root)
    assert(before.docstats.count() == 2,
      "pre-commit reader must see the old generation")
    assert(QueryEngine.query(before, "abc", BM25()).collect().nonEmpty)

    // recovery: promote() accepts the already-moved dirs and commits
    IndexCatalog.resumeAppend(spark, root)
    val idx = IndexCatalog.read(spark, root)
    assert(idx.docstats.count() == 4)
    val full = IndexBuilder.build(batch(batchA ++ batchB), "id",
      Seq("title", "description"))
    assert(idx.termdict.select("term", "df").exceptAll(full.termdict).count() == 0)
    // delta append: the base dict STAYS live (readers union it with the
    // registered delta), and the commit registers generation 1
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/termdict")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/termdict.d1")))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/manifest.json"))
      .contains("\"append.deltas\": \"1\""))
  }

  test("delta dictionaries roll up every compactDeltasEvery generations") {
    val root = Files.createTempDirectory("graft_incr8_").toString
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 8)
    // gen 1 = delta, gen 2 = rollup (compactDeltasEvery = 2)
    IndexCatalog.addDocuments(batch(Seq(batchB.head)), "id", root, compactDeltasEvery = 2)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/termdict.d1")))
    IndexCatalog.addDocuments(batch(Seq(batchB(1))), "id", root, compactDeltasEvery = 2)
    val mf = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/manifest.json"))
    assert(mf.contains("\"table.termdict\": \"termdict.g2\""))
    assert(!mf.contains("append.deltas"))
    // rollup GC'd the folded delta dirs and the old base
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/termdict.d1")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/termdict")))
    val idx = IndexCatalog.read(spark, root)
    val full = IndexBuilder.build(batch(batchA ++ batchB), "id",
      Seq("title", "description"))
    assert(idx.termdict.select("term", "df").exceptAll(full.termdict).count() == 0 &&
      full.termdict.exceptAll(idx.termdict.select("term", "df")).count() == 0)
    val sa = idx.fieldStats(); val sb = full.fieldStats()
    assert(sa.n == sb.n && sa.sums.toSeq == sb.sums.toSeq)
    for (q <- Seq("abc", "ab", "dfg zzz")) {
      val a = QueryEngine.query(idx, q, BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = QueryEngine.query(full, q, BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"query '$q': rolled-up=$a vs full=$b")
    }
  }

  /** A vacuum killed before its first catalog step — its commit. */
  private def crashedVacuum(root: String): Unit =
    assert(StepFs.crashAt(1)(IndexCatalog.vacuum(spark, root)), "the vacuum was not crashed")

  test("append after a crashed vacuum, then a re-run vacuum, == build(net corpus)") {
    // the round-4 ADVICE interleaving: a vacuum that died after its table
    // rewrites but before its commit, then an append. The crashed vacuum
    // left only orphan dirs — the append publishes over the pre-vacuum
    // index, and the re-run vacuum compacts both.
    val root = StepFs.tempRoot(spark, "graft_incr6_")
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 8)
    IndexCatalog.addDocuments(batch(batchB), "id", root) // table.* → *.g1
    IndexCatalog.removeDocuments(spark, root, Seq(0L, 2L))
    crashedVacuum(root)
    assert(IndexCatalog.read(spark, root).hasTombstones)

    val batchC = Seq((4L, "abc zzz", "dfg abcf"))
    IndexCatalog.addDocuments(batch(batchC), "id", root)
    IndexCatalog.vacuum(spark, root)

    val idx = IndexCatalog.read(spark, root)
    val full = IndexBuilder.build(
      batch(Seq(batchA(1), batchB(1)) ++ batchC), "id",
      Seq("title", "description"))
    assert(idx.docstats.count() == 3)
    assert(idx.termdict.select("term", "df").exceptAll(full.termdict).count() == 0 &&
      full.termdict.exceptAll(idx.termdict.select("term", "df")).count() == 0)
    val sa = idx.fieldStats(); val sb = full.fieldStats()
    assert(sa.n == sb.n && sa.sums.toSeq == sb.sums.toSeq)
    for (q <- Seq("abc", "dfg zzz", "ab")) {
      val a = QueryEngine.query(idx, q, BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = QueryEngine.query(full, q, BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"query '$q': lifecycle=$a vs full=$b")
    }
  }

  test("remove after a crashed vacuum, then a re-run vacuum, == build(net corpus)") {
    // the tombstone appended after the crash must end compacted away with
    // the first one, never dropped while its postings survive
    val root = StepFs.tempRoot(spark, "graft_incr7_")
    IndexCatalog.build(batch(batchA ++ batchB), "id",
      Seq("title", "description"), root, nBuckets = 8)
    IndexCatalog.removeDocuments(spark, root, Seq(0L))
    crashedVacuum(root)
    IndexCatalog.removeDocuments(spark, root, Seq(2L))
    IndexCatalog.vacuum(spark, root)
    val idx = IndexCatalog.read(spark, root)
    val full = IndexBuilder.build(
      batch((batchA ++ batchB).filterNot(r => r._1 == 0L || r._1 == 2L)),
      "id", Seq("title", "description"))
    assert(idx.docstats.count() == 2 && !idx.hasTombstones)
    assert(idx.termdict.select("term", "df").exceptAll(full.termdict).count() == 0 &&
      full.termdict.exceptAll(idx.termdict.select("term", "df")).count() == 0)
    val a = QueryEngine.query(idx, "abc", BM25()).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = QueryEngine.query(full, "abc", BM25()).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("out-of-band tombstone appended mid-vacuum survives the commit") {
    // An EXTERNAL writer (raw parquet append, no API call) adds a
    // tombstone while a vacuum runs, after it listed the tombstone files it
    // retires and before its commit. The vacuum must retire only the files
    // it listed — deleting the whole dir would drop the late tombstone
    // while its postings, never part of the compaction, survive: a
    // silently resurrected document.
    import spark.implicits._
    val root = StepFs.tempRoot(spark, "graft_incr8_")
    IndexCatalog.build(batch(batchA ++ batchB), "id",
      Seq("title", "description"), root, nBuckets = 8)
    IndexCatalog.removeDocuments(spark, root, Seq(0L))
    StepFs.trace(s => if (s.n == 1)
      Seq(2L).toDF("doc_id").write.mode("append").parquet(s"$root/tombstones")
    )(IndexCatalog.vacuum(spark, root))
    val idx = IndexCatalog.read(spark, root)
    // doc 0 is compacted away; doc 2's late tombstone must still mask it
    assert(idx.hasTombstones,
      "late tombstone was dropped by the vacuum commit")
    assert(idx.docstats.count() == 3) // compaction saw only doc 0
    val full = IndexBuilder.build(
      batch((batchA ++ batchB).filterNot(r => r._1 == 0L || r._1 == 2L)),
      "id", Seq("title", "description"))
    for (q <- Seq("abc", "dfg zzz")) {
      val a = QueryEngine.query(idx, q, BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = QueryEngine.query(full, q, BM25()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"query '$q': lifecycle=$a vs full=$b")
    }
    // a follow-up vacuum purges doc 2's postings and clears the mask
    IndexCatalog.vacuum(spark, root)
    val idx2 = IndexCatalog.read(spark, root)
    assert(!idx2.hasTombstones && idx2.docstats.count() == 2)
  }

  test("removing an empty id set is a no-op, and empty tombstone files count as none") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_rmempty_").toString
    IndexCatalog.build(batch(batchA :+ ((5L, "abc", "q"))), "id", Seq("title", "description"),
      root, nBuckets = 4)
    def scores(idx: graft.index.InvertedIndex) = QueryEngine.query(idx, "abc", BM25()).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = scores(IndexCatalog.read(spark, root))
    IndexCatalog.removeDocuments(spark, root, Seq.empty)
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/tombstones")))
    // a remove of an EMPTY DataFrame still writes a (row-less) part file
    IndexCatalog.removeDocuments(root, Seq.empty[Long].toDF("doc_id"))
    assert(Files.exists(java.nio.file.Paths.get(s"$root/tombstones")))
    val idx = IndexCatalog.read(spark, root)
    assert(!idx.hasTombstones, "empty tombstone files sent queries down the tombstone path")
    assert(scores(idx) == before)
    // …and the vacuum retires them without rewriting any table
    val stagesBefore = IndexCatalog.manifest(spark, root).filter(_._1.startsWith("stage."))
    IndexCatalog.vacuum(spark, root)
    assert(IndexCatalog.manifest(spark, root).filter(_._1.startsWith("stage.")) == stagesBefore)
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/tombstones")))
    assert(scores(IndexCatalog.read(spark, root)) == before)
  }

  test("manifest delete-then-rename crash window is recoverable") {
    val root = Files.createTempDirectory("graft_mrec_").toString
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 4)
    // simulate a crash inside writeManifest's swap: dst deleted, COMPLETE
    // tmp left behind (the tmp is always fully written before the delete)
    val m = java.nio.file.Paths.get(s"$root/manifest.json")
    val tmp = java.nio.file.Paths.get(s"$root/_manifest.json.tmp")
    java.nio.file.Files.copy(m, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.delete(m)
    // readManifest must promote the tmp and serve the index
    val idx = IndexCatalog.read(spark, root)
    assert(idx.docstats.count() == 2)
    assert(java.nio.file.Files.exists(m) && !java.nio.file.Files.exists(tmp))
  }

  test("streaming ingestion: micro-batches land as queryable deltas") {
    val root = Files.createTempDirectory("graft_stream_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_").toString
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 8)

    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("id", "title", "description")
    mem.addData(batchB.map(r => (r._1, r._2, r._3)): _*)
    val q = StreamingIndexer.start(stream, "id", root, ckpt)
    q.processAllAvailable(); q.stop()

    val idx = IndexCatalog.read(spark, root)
    assert(idx.docstats.count() == 4)
    val got = QueryEngine.query(idx, "abc", BM25()).collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L, 2L, 3L)) // all four match "abc" or its expansions
  }

  test("streamed text batches are exactly-once under foreachBatch replays") {
    val root = Files.createTempDirectory("graft_streplay_").toString
    IndexCatalog.build(batch(batchA), "id", Seq("title", "description"), root, nBuckets = 8)

    // batch 0 applied, then replayed (checkpoint lost after publish): a
    // duplicate would double "abc"'s df and shift every BM25 score
    val b0 = batch(batchB)
    StreamingIndexer.applyBatch(b0, "id", root, 0L, "sA")
    assert(IndexCatalog.read(spark, root).docstats.count() == 4)
    val scores0 = QueryEngine.query(IndexCatalog.read(spark, root), "abc", BM25())
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    StreamingIndexer.applyBatch(b0, "id", root, 0L, "sA")
    assert(IndexCatalog.read(spark, root).docstats.count() == 4,
      "replayed batch must be a no-op")
    val scoresReplay = QueryEngine.query(IndexCatalog.read(spark, root), "abc", BM25())
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(scoresReplay == scores0)

    // batch 1 crashes between stage-commit and publish; the replay must
    // FINISH the staged attempt, not stage a second copy
    val b1 = batch(Seq((4L, "abc zz", "qqq"), (5L, "rrr", "abc")))
    IndexCatalog.stageAppend(b1, "id", root,
      extra = Map("stream.stagedBatch" -> "sA:1"))
    assert(IndexCatalog.read(spark, root).docstats.count() == 4,
      "staged-only batch must not touch the live index")
    StreamingIndexer.applyBatch(b1, "id", root, 1L, "sA")
    assert(IndexCatalog.read(spark, root).docstats.count() == 6)
    StreamingIndexer.applyBatch(b1, "id", root, 1L, "sA")
    assert(IndexCatalog.read(spark, root).docstats.count() == 6)

    // the streamed index equals a one-shot build over everything
    val full = IndexBuilder.build(
      batch(batchA ++ batchB ++ Seq((4L, "abc zz", "qqq"), (5L, "rrr", "abc"))),
      "id", Seq("title", "description"))
    for (q <- Seq("abc", "ab", "zz")) {
      val a = QueryEngine.query(IndexCatalog.read(spark, root), q, BM25())
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = QueryEngine.query(full, q, BM25())
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"query '$q': streamed=$a vs full=$b")
    }
  }
}
