package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexCatalog, PostingBlocks}
import graft.query.{BlockMaxTopK, QueryEngine}
import graft.score.BM25
import graft.tools.SourceCodeGen

/** Varint/delta block codec + block-max WAND parity with the exhaustive
  * scoring path.
  */
class VarintSpec extends AnyFunSuite {
  test("varint roundtrip: boundaries") {
    val vals = Seq(0L, 1L, 127L, 128L, 255L, 16383L, 16384L,
      Int.MaxValue.toLong, Long.MaxValue)
    val out = new ByteArrayOutputStream()
    vals.foreach(v => PostingBlocks.writeVarint(out, v))
    val buf = out.toByteArray
    var pos = 0
    vals.foreach { v =>
      val (got, p) = PostingBlocks.readVarint(buf, pos)
      assert(got == v); pos = p
    }
    assert(pos == buf.length)
  }

  test("varint roundtrip: 1000 seeded randoms") {
    val rnd = new scala.util.Random(42)
    val vs = Seq.fill(1000)(math.abs(rnd.nextLong()) >>> rnd.nextInt(60))
    val out = new ByteArrayOutputStream()
    vs.foreach(v => PostingBlocks.writeVarint(out, v))
    val buf = out.toByteArray
    var pos = 0
    vs.foreach { v =>
      val (got, p) = PostingBlocks.readVarint(buf, pos)
      assert(got == v); pos = p
    }
  }

  test("block encode/decode roundtrip: 100 seeded random blocks") {
    val rnd = new scala.util.Random(7)
    val blockSize = 64L
    for (_ <- 1 to 100) {
      val bid = rnd.nextInt(6).toLong
      val entries = Seq.fill(1 + rnd.nextInt(40))(
        (bid * blockSize + rnd.nextInt(64), Seq(1 + rnd.nextInt(9), rnd.nextInt(8)),
          Seq(3 + rnd.nextInt(9), 1 + rnd.nextInt(8))))
        .distinctBy(_._1).sortBy(_._1)
      val b = PostingBlocks.encode("t", bid, blockSize, entries, 2)
      val back = PostingBlocks.decode(b, blockSize, 2).toSeq
      assert(back.map(d => (d.doc_id, d.tf, d.fl)) == entries)
      assert(back.forall(d => d.occ == d.tf.sum))
      assert(b.max_tf == Seq(entries.map(_._2(0)).max, entries.map(_._2(1)).max))
      // min_fl per field = min fl over MATCHING entries (tf>0), else 0
      val wantMinFl = (0 until 2).map { x =>
        val m = entries.filter(_._2(x) > 0).map(_._3(x))
        if (m.isEmpty) 0 else m.min
      }
      assert(b.min_fl == wantMinFl)
      assert(b.min_doc == entries.head._1 && b.max_doc == entries.last._1)
    }
  }
}

class BlockMaxSpec extends TestBase {

  test("block-max top-k is identical to exhaustive top-k (source_code corpus)") {
    val src = SourceCodeGen.generate(spark, 2000)
    val idx = IndexBuilder.build(src, "doc_id", Seq("content", "path")).cached()
    // small blocks so many ranges exist and pruning actually happens
    val blocks = PostingBlocks.fromPostings(idx.postings, 2, blockSize = 128).cache()
    for (q <- Seq("import", "ident7 val", "Modu", "fn match ident1", "zzz-nope")) {
      val exact = QueryEngine.query(idx, q, BM25(), limit = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val wand = BlockMaxTopK.query(idx, blocks, q, BM25(), k = 10, blockSize = 128)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(wand == exact, s"mismatch for query '$q'")
    }
    idx.unpersist(); blocks.unpersist()
  }

  test("pruning FIRES on a range-clustered corpus and stays lossless") {
    // The round-3 lesson: uniform corpora cannot be pruned by any sound
    // bound (every range holds a near-top doc), so parity tests alone may
    // only cover the no-op prune. This corpus clusters tf by doc-id range
    // WITHOUT varying fl — pruningStats must show real range skipping,
    // and the pruned result must still equal exhaustive.
    import spark.implicits._
    val docs = (0L until 256L).map { i =>
      val toks =
        if (i < 8) Seq.fill(10)("hot") ++ Seq.fill(2)("pad")   // range 0
        else "hot" +: Seq.fill(11)("pad")                       // fl constant
      (i, toks.mkString(" "))
    }
    val idx = IndexBuilder.build(docs.toDF("id", "title"), "id", Seq("title")).cached()
    val blocks = PostingBlocks.fromPostings(idx.postings, 1, blockSize = 8).cache()
    val Some((total, survive, theta)) = graft.query.BlockMaxTopK
      .pruningStats(idx, blocks, "hot", BM25(), k = 5, blockSize = 8)
    assert(total == 32, s"expected 32 ranges, got $total")
    assert(survive < total, s"no pruning on the clustered corpus ($survive/$total)")
    assert(theta > 0)
    val exact = QueryEngine.query(idx, "hot", BM25(), limit = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wand = BlockMaxTopK.query(idx, blocks, "hot", BM25(), k = 5, blockSize = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wand == exact && wand.nonEmpty)
    idx.unpersist(); blocks.unpersist()
  }

  test("negative field boost falls back to the exhaustive path (UB unsound)") {
    val src = SourceCodeGen.generate(spark, 500)
    val idx = IndexBuilder.build(src, "doc_id", Seq("content", "path")).cached()
    val blocks = PostingBlocks.fromPostings(idx.postings, 2, blockSize = 128).cache()
    val boosts = Seq(1.0, -0.5) // reference fields_boost accepts negatives
    val exact = QueryEngine.query(idx, "import ident2", BM25(), boosts, limit = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wand = BlockMaxTopK.query(idx, blocks, "import ident2", BM25(),
      boosts, k = 10, blockSize = 128)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wand == exact && exact.nonEmpty)
    idx.unpersist(); blocks.unpersist()
  }

  test("vacuum compacts the block table in place (incremental, no rebuild)") {
    val root = java.nio.file.Files.createTempDirectory("graft_blocks_vac_").toString
    val src = SourceCodeGen.generate(spark, 200)
    IndexCatalog.build(src, "doc_id", Seq("content", "path"), root, nBuckets = 4)
    IndexCatalog.buildBlocks(spark, root, blockSize = 64)
    IndexCatalog.removeDocuments(spark, root, Seq(0L, 1L, 2L))
    IndexCatalog.vacuum(spark, root)
    // the block table SURVIVES the vacuum (round-4 engine dropped it and
    // re-encoded from the full posting store): the block rewrite re-encoded
    // only the rg partitions holding tombstoned ids, and readBlocks serves
    // data consistent with the compacted postings with no rebuild step
    val idx = IndexCatalog.read(spark, root)
    val (blocks, bs, _) = IndexCatalog.readBlocks(spark, root)
    val back = PostingBlocks.toPostings(blocks.toDF(), 2, bs)
    assert(back.filter(col("doc_id").isin(0L, 1L, 2L)).count() == 0)
    assert(back.count() == idx.postings.count())
    // a follow-up buildBlocks is a no-op (stage current, nothing pending)
    IndexCatalog.buildBlocks(spark, root, blockSize = 64)
    assert(PostingBlocks.toPostings(
      IndexCatalog.readBlocks(spark, root)._1.toDF(), 2, bs).count() ==
      idx.postings.count())
  }

  test("blocks round-trip through the persisted catalog") {
    val root = java.nio.file.Files.createTempDirectory("graft_blocks_").toString
    val src = SourceCodeGen.generate(spark, 300)
    val idx = IndexCatalog.build(src, "doc_id", Seq("content", "path"), root, nBuckets = 8)
    IndexCatalog.buildBlocks(spark, root, blockSize = 64)
    val (blocks, bs, _) = IndexCatalog.readBlocks(spark, root)
    assert(bs == 64)
    val exact = QueryEngine.query(idx, "import ident3", BM25(), limit = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wand = BlockMaxTopK.query(idx, blocks, "import ident3", BM25(), k = 5, blockSize = bs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wand == exact)
    // decoded block postings == original postings
    val back = PostingBlocks.toPostings(blocks.toDF(), 2, bs)
    assert(back.count() == idx.postings.count())
    assert(back.exceptAll(idx.postings.select("term", "doc_id", "tf", "fl", "occ")).count() == 0)
  }
}
