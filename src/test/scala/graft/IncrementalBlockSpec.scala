package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.index.{IndexBuilder, IndexCatalog, PostingBlocks}
import graft.query.{BlockMaxTopK, QueryEngine}
import graft.score.BM25

/** Incremental block maintenance (round-4 verdict #1): an append folds into
  * the block table by rewriting ONLY the (bucket, rg) partitions its doc-id
  * ranges touch, a vacuum compacts ONLY the rg partitions holding
  * tombstoned ids — asserted by FILE BYTE-IDENTITY across the mutation, not
  * just result parity.
  */
class IncrementalBlockSpec extends TestBase {

  private def corpus(ids: Seq[Long]) = {
    import spark.implicits._
    // multi-term docs with shared and rare terms so expansion/df/scoring
    // are non-trivial; deterministic in the id
    ids.map(i => (i, s"w${i % 7} common x${i % 13} t${i % 3} u$i"))
      .toDF("id", "body")
  }

  /** (relative path → md5) for every data file under the block dir. */
  private def blockFileHashes(root: String): Map[String, String] = {
    val base = Paths.get(s"$root/blocks")
    if (!Files.exists(base)) return Map.empty
    Files.walk(base).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map { p =>
        val md = MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
        base.relativize(p).toString -> md.map("%02x".format(_)).mkString
      }.toMap
  }

  /** The local dir of a `stepfs` root. */
  private def local(root: String): String = new java.net.URI(root).getPath

  /** A vacuum killed ONE partition rename into its block swap: after its
    * swap marker committed, with both swapped and unswapped groups left.
    */
  private def vacuumCrashedMidSwap(root: String): Unit = {
    var swapped = 0
    val crashed = StepFs.crash { s =>
      if (s.op == "rename" && s.path.contains("_tmp_blocks_fold/")) swapped += 1
      swapped == 2
    }(IndexCatalog.vacuum(spark, root))
    assert(crashed, "the vacuum was not crashed")
  }

  private def decodeAll(root: String): org.apache.spark.sql.DataFrame = {
    val (blocks, bs, _) = IndexCatalog.readBlocks(spark, root)
    PostingBlocks.toPostings(blocks.toDF(), 1, bs)
  }

  test("append fold leaves every untouched block file byte-identical") {
    val root = Files.createTempDirectory("graft_iblk1_").toString
    IndexCatalog.build(corpus(0L until 200L), "id", Seq("body"), root, nBuckets = 4)
    // blockSize 16 × rangesPerGroup 4 = 64 docs per rg ⇒ base ids 0..199
    // span rgs 0..3; the appended ids 1000..1019 land in rg 15 only
    IndexCatalog.buildBlocks(spark, root, blockSize = 16, rangesPerGroup = 4)
    val before = blockFileHashes(root)
    assert(before.nonEmpty && before.keys.exists(_.contains("rg=3")))

    IndexCatalog.addDocuments(corpus(1000L until 1020L), "id", root)
    // between append and fold the table is refused (missing the delta)
    intercept[IllegalArgumentException] { IndexCatalog.readBlocks(spark, root) }
    IndexCatalog.buildBlocks(spark, root) // the O(delta) fold

    val after = blockFileHashes(root)
    // every pre-append file untouched, bit for bit
    before.foreach { case (rel, h) =>
      assert(after.get(rel).contains(h), s"block file $rel was rewritten by the fold")
    }
    // the delta's rg partitions exist and are the ONLY additions
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty && added.forall(_.contains("rg=15")), s"added=$added")

    // the folded table is indistinguishable from the postings it encodes…
    val idx = IndexCatalog.read(spark, root)
    val back = decodeAll(root)
    assert(back.count() == idx.postings.count())
    assert(back.exceptAll(
      idx.postings.select("term", "doc_id", "tf", "fl", "occ")).count() == 0)
    // …and WAND over it matches exhaustive over a from-scratch union build
    val full = IndexBuilder.build(corpus((0L until 200L) ++ (1000L until 1020L)),
      "id", Seq("body"))
    val (blocks, bs, rpg) = IndexCatalog.readBlocks(spark, root)
    for (q <- Seq("common", "w1 x2", "u10")) {
      val wand = BlockMaxTopK.query(idx, blocks, q, BM25(), k = 10,
        blockSize = bs, rangesPerGroup = rpg)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exact = QueryEngine.query(full, q, BM25(), limit = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(wand == exact, s"query '$q': folded=$wand vs full=$exact")
    }
  }

  test("append fold merges boundary/interleaved ranges correctly") {
    // q34-shaped append: delta ids interleave with existing ranges, so the
    // fold must MERGE old block content with the delta per (term, range)
    val root = Files.createTempDirectory("graft_iblk2_").toString
    val all = 0L until 120L
    IndexCatalog.build(corpus(all.filter(_ % 3 != 0)), "id", Seq("body"),
      root, nBuckets = 4)
    IndexCatalog.buildBlocks(spark, root, blockSize = 16, rangesPerGroup = 4)
    IndexCatalog.addDocuments(corpus(all.filter(_ % 3 == 0)), "id", root)
    IndexCatalog.buildBlocks(spark, root)

    val idx = IndexCatalog.read(spark, root)
    val back = decodeAll(root)
    assert(back.count() == idx.postings.count())
    assert(back.exceptAll(
      idx.postings.select("term", "doc_id", "tf", "fl", "occ")).count() == 0)
    // folding twice must not double anything (idempotent maintenance)
    IndexCatalog.buildBlocks(spark, root)
    assert(decodeAll(root).count() == idx.postings.count())
  }

  test("vacuum re-encodes only rg partitions containing tombstoned ids") {
    val root = Files.createTempDirectory("graft_iblk3_").toString
    IndexCatalog.build(corpus(0L until 200L), "id", Seq("body"), root, nBuckets = 4)
    IndexCatalog.buildBlocks(spark, root, blockSize = 16, rangesPerGroup = 4)
    val before = blockFileHashes(root)
    // ids 130..139 live in blocks 8 ⇒ rg 2 only
    IndexCatalog.removeDocuments(spark, root, 130L until 140L)
    IndexCatalog.vacuum(spark, root)

    val after = blockFileHashes(root)
    before.foreach { case (rel, h) =>
      if (!rel.contains("rg=2"))
        assert(after.get(rel).contains(h), s"unaffected block file $rel rewritten")
    }
    assert(before.keys.exists(k => k.contains("rg=2") &&
      !after.get(k).contains(before(k))), "no rg=2 partition was compacted")

    val idx = IndexCatalog.read(spark, root)
    val back = decodeAll(root)
    assert(back.filter(col("doc_id").between(130L, 139L)).count() == 0)
    assert(back.count() == idx.postings.count())
    assert(back.exceptAll(
      idx.postings.select("term", "doc_id", "tf", "fl", "occ")).count() == 0)
  }

  test("vacuum crash ONE RENAME INTO the block swap resumes without losing partitions") {
    // the round-5 review finding: the drop list used to cover ALL
    // rewritten pairs, so a crash mid-swap + resume deleted the
    // already-swapped live dir (its tmp copy gone with the rename) —
    // permanent, silent block loss. The drop list now covers only
    // EMPTIED pairs and the swap runs before the drops.
    val root = StepFs.tempRoot(spark, "graft_iblk5_")
    IndexCatalog.build(corpus(0L until 200L), "id", Seq("body"), root, nBuckets = 4)
    IndexCatalog.buildBlocks(spark, root, blockSize = 16, rangesPerGroup = 4)
    // tombstone ids spanning MANY (bucket, rg) pairs so the mid-swap crash
    // leaves both swapped and unswapped rewrites behind
    IndexCatalog.removeDocuments(spark, root, (10L until 20L) ++ (70L until 80L))
    vacuumCrashedMidSwap(root)
    // crashed: swap marker still set
    val mf = java.nio.file.Files.readString(Paths.get(s"${local(root)}/manifest.json"))
    assert(mf.contains("\"blocks.swap\""))

    IndexCatalog.vacuum(spark, root) // re-run finishes the swap, then vacuums
    val idx = IndexCatalog.read(spark, root)
    val back = decodeAll(root)
    assert(back.filter(col("doc_id").between(10L, 19L) ||
      col("doc_id").between(70L, 79L)).count() == 0)
    // the decoded table equals the live postings — NOTHING lost
    assert(back.count() == idx.postings.count())
    assert(back.exceptAll(
      idx.postings.select("term", "doc_id", "tf", "fl", "occ")).count() == 0)
    // and the manifest row count is the real one
    val m2 = java.nio.file.Files.readString(Paths.get(s"${local(root)}/manifest.json"))
    val recorded = "\"stage\\.blocks\\.rows\": \"(\\d+)\"".r
      .findFirstMatchIn(m2).get.group(1).toLong
    val (blocks, _, _) = IndexCatalog.readBlocks(spark, root)
    assert(blocks.count() == recorded)
  }

  test("block/rg mapping is exact above 2^53 (integer division, not double)") {
    // doc_id = 2^54 - 1 rounds UP to 2^54 as a double, so double division
    // put it one block too high while exact division gives the block
    // below — the fold would then swap a rewrite over an rg it never
    // decoded. Reachable only under a TUNED block layout (the int rg cap
    // doc_id < blockSize·rpg·2^31 sits below 2^53 at the defaults and
    // fails loudly via the ANSI cast): blockSize 2^20 × rpg 16 puts the
    // rg cap at 2^55 with the silent-corruption zone inside it. All
    // Spark-side id→block/rg mappings now use IntegralDivide.
    // big..big+2 land first and populate the TRUE (bucket, rg) pairs;
    // big+3 = 2^54 - 1 (rounds UP as a double) then folds in separately —
    // under double division its delta maps to the rg ABOVE, so the fold
    // would decode nothing, re-encode from the delta alone, and swap that
    // partial rewrite OVER the live partitions holding big..big+2
    val big = (1L << 54) - 4L
    val root = Files.createTempDirectory("graft_iblk6_").toString
    IndexCatalog.build(corpus(0L until 40L), "id", Seq("body"), root, nBuckets = 4)
    IndexCatalog.buildBlocks(spark, root, blockSize = 1L << 20, rangesPerGroup = 16)
    IndexCatalog.addDocuments(corpus(Seq(big, big + 1, big + 2)), "id", root)
    IndexCatalog.buildBlocks(spark, root) // fold 1: populates the huge-id rg
    IndexCatalog.addDocuments(corpus(Seq(big + 3)), "id", root)
    IndexCatalog.buildBlocks(spark, root) // fold 2: must MERGE, not replace

    val idx = IndexCatalog.read(spark, root)
    val back = decodeAll(root)
    assert(back.filter(col("doc_id") >= big).count() ==
      idx.postings.filter(col("doc_id") >= big).count())
    assert(back.exceptAll(
      idx.postings.select("term", "doc_id", "tf", "fl", "occ")).count() == 0)
    // vacuum one huge id through the incremental compaction path too
    IndexCatalog.removeDocuments(spark, root, Seq(big + 1))
    IndexCatalog.vacuum(spark, root)
    val back2 = decodeAll(root)
    assert(back2.filter(col("doc_id") === (big + 1)).count() == 0)
    assert(back2.exceptAll(IndexCatalog.read(spark, root).postings
      .select("term", "doc_id", "tf", "fl", "occ")).count() == 0)
  }

  test("buildBlocks finishes a crashed VACUUM block swap, drop list included") {
    // round-5 review finding: a serving job that calls buildBlocks (the
    // routine pre-readBlocks step) after a vacuum crashed mid block swap
    // used to finish the swap WITHOUT applying blocks.swap.drop — the
    // all-emptied partitions survived with a stale row count, masked only
    // while the tombstones happened to still exist.
    val root = StepFs.tempRoot(spark, "graft_iblk6_")
    IndexCatalog.build(corpus(0L until 200L), "id", Seq("body"), root, nBuckets = 4)
    IndexCatalog.buildBlocks(spark, root, blockSize = 16, rangesPerGroup = 4)
    // rg 0 = doc ids 0..63 tombstoned WHOLESALE (every rg=0 partition
    // empties ⇒ non-empty drop list) plus a partial rg 2 rewrite
    IndexCatalog.removeDocuments(spark, root, (0L until 64L) ++ (130L until 140L))
    vacuumCrashedMidSwap(root)
    // a vacuum's swap folds no append generation
    val mf = java.nio.file.Files.readString(Paths.get(s"${local(root)}/manifest.json"))
    assert(mf.contains("\"blocks.swap\": \"\"") &&
      "\"blocks\\.swap\\.drop\": \"bucket=".r.findFirstIn(mf).nonEmpty)

    IndexCatalog.buildBlocks(spark, root) // NOT vacuum — the serving path
    // swap finished: readable, retired partitions gone, row count honest
    assert(!blockFileHashes(local(root)).keys.exists(_.contains("rg=0")),
      "all-emptied rg=0 partitions must be dropped by the finished swap")
    val idx = IndexCatalog.read(spark, root)
    val back = decodeAll(root)
    assert(back.filter(col("doc_id") < 64L ||
      col("doc_id").between(130L, 139L)).count() == 0)
    // the crashed vacuum never committed its tables: the posting store
    // still holds the tombstoned docs, which the blocks no longer encode
    assert(back.count() == idx.livePostings.count())
    val m2 = java.nio.file.Files.readString(Paths.get(s"${local(root)}/manifest.json"))
    assert(!m2.contains("blocks.swap"))
    val recorded = "\"stage\\.blocks\\.rows\": \"(\\d+)\"".r
      .findFirstMatchIn(m2).get.group(1).toLong
    val (blocks, _, _) = IndexCatalog.readBlocks(spark, root)
    assert(blocks.count() == recorded)
    // the re-run vacuum completes cleanly afterwards
    IndexCatalog.vacuum(spark, root)
    assert(!IndexCatalog.read(spark, root).hasTombstones)
    assert(decodeAll(root).exceptAll(IndexCatalog.read(spark, root).postings
      .select("term", "doc_id", "tf", "fl", "occ")).count() == 0)
  }

  test("a root left mid-vacuum by an older engine is refused") {
    // older engine versions resumed a crashed vacuum from a
    // `vacuum.pending` manifest; the resume is gone (a vacuum now commits
    // once), and such a root may hold compacted tables under a stale
    // dictionary — refused, as readBlocks refuses a stale block format
    val root = Files.createTempDirectory("graft_iblk7_").toString
    IndexCatalog.build(corpus(0L until 100L), "id", Seq("body"), root, nBuckets = 4)
    IndexCatalog.removeDocuments(spark, root, 10L until 20L)
    val mp = Paths.get(s"$root/manifest.json")
    java.nio.file.Files.writeString(mp, java.nio.file.Files.readString(mp)
      .replaceFirst("\\{", "{\n  \"vacuum.pending\": \"true\","))
    // the out-of-band rewrite invalidates Hadoop LocalFS's sidecar checksum
    java.nio.file.Files.deleteIfExists(Paths.get(s"$root/.manifest.json.crc"))
    for (op <- Seq[() => Any](() => IndexCatalog.read(spark, root),
        () => IndexCatalog.vacuum(spark, root),
        () => IndexCatalog.addDocuments(corpus(Seq(500L)), "id", root),
        () => IndexCatalog.buildBlocks(spark, root))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("mid-vacuum") && e.getMessage.contains("rebuild"))
    }
  }

  test("fold crash protocol: pending marker survives and a re-run completes") {
    val root = Files.createTempDirectory("graft_iblk4_").toString
    IndexCatalog.build(corpus(0L until 100L), "id", Seq("body"), root, nBuckets = 4)
    IndexCatalog.buildBlocks(spark, root, blockSize = 16, rangesPerGroup = 4)
    IndexCatalog.addDocuments(corpus(500L until 520L), "id", root)
    // "crash" = nothing ran after the append; the manifest must carry the
    // pending generation so readers refuse and a later fold knows its work
    val mf = java.nio.file.Files.readString(Paths.get(s"$root/manifest.json"))
    assert(mf.contains("\"blocks.pending\": \"1\""))
    intercept[IllegalArgumentException] { IndexCatalog.readBlocks(spark, root) }
    // two queued generations fold in one pass
    IndexCatalog.addDocuments(corpus(600L until 610L), "id", root)
    IndexCatalog.buildBlocks(spark, root)
    val idx = IndexCatalog.read(spark, root)
    assert(decodeAll(root).count() == idx.postings.count())
    assert(!java.nio.file.Files.readString(Paths.get(s"$root/manifest.json"))
      .contains("blocks.pending"))
  }
}
