package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.index.{IndexBuilder, IndexCatalog}
import graft.query.QueryEngine
import graft.score.BM25

/** Random-walk fuzz of the PERSISTED index lifecycle: any interleaving of
  * append / crashed-append / remove / vacuum must end at an index whose
  * query results match a one-shot in-memory build over the net corpus
  * (adds minus removes), and — after a closing vacuum — whose termdict and
  * stats match exactly. Exercises the generation-dir publish, the
  * vacuum's single commit under crashes at any of its steps, and resume
  * ordering under composition (the pairwise cases live in IncrementalSpec;
  * this walks them together).
  */
object LifecycleProps extends Properties("Lifecycle") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)
      .withInitialSeed(org.scalacheck.rng.Seed(23L))

  private lazy val spark = TestSpark.spark

  private val vocab = Vector("a", "ab", "abc", "b", "ba", "c", "ca", "d")
  private val docGen: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      .map(_.mkString(" "))

  sealed trait Op
  case class Append(crash: Boolean) extends Op
  case class Remove(pick: Int) extends Op
  /** crash > 0: die before the vacuum's `crash`-th catalog step (a
    * rename or delete, [[StepFs]]); a vacuum with fewer steps completes.
    */
  case class Vacuum(crash: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.oneOf(true, false).map(Append(_)),
    3 -> Gen.choose(0, Int.MaxValue).map(Remove(_)),
    2 -> Gen.oneOf(Gen.const(0), Gen.choose(1, 12)).map(Vacuum(_)))

  private val caseGen = for {
    n <- Gen.choose(8, 16)
    docs <- Gen.listOfN(n, docGen)
    nOps <- Gen.choose(2, 4)
    ops <- Gen.listOfN(nOps, opGen)
  } yield (docs, ops)

  property("random walk of append/crash/remove/vacuum == build(net corpus)") =
    forAll(caseGen) { case (docs, ops) =>
      import spark.implicits._
      def df(r: Seq[(Long, String)]) = r.toDF("id", "title")
      val rows = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val root = StepFs.tempRoot(spark, "graft_life_")

      // initial build over a prefix; remaining docs are split across the
      // Append ops in order
      val nAppends = math.max(1, ops.count(_.isInstanceOf[Append]))
      val cut = math.max(1, rows.size / (nAppends + 1))
      var pending = rows.drop(cut)
      var live = rows.take(cut).toMap
      IndexCatalog.build(df(rows.take(cut)), "id", Seq("title"), root, nBuckets = 4)

      ops.foreach {
        case Append(crash) =>
          val batch = pending.take(math.max(1, pending.size / 2))
          pending = pending.drop(batch.size)
          if (batch.nonEmpty) {
            // a crashed (staged-only) append models a process death AFTER
            // stage-commit; the next writer always resumes first — exactly
            // what the public addDocuments does — so land any predecessor
            // before staging the next crash
            if (crash) {
              IndexCatalog.resumeAppend(spark, root)
              IndexCatalog.stageAppend(df(batch), "id", root)
              ()
            } else IndexCatalog.addDocuments(df(batch), "id", root)
            // staged-but-unpublished appends still count toward the net
            // corpus: the NEXT write op (or final resume) must land them
            live = live ++ batch
          }
        case Remove(pick) =>
          if (live.nonEmpty) {
            val ids = live.keys.toSeq.sorted
            val id = ids(pick % ids.size)
            IndexCatalog.removeDocuments(spark, root, Seq(id))
            live = live - id
          }
        case Vacuum(crash) =>
          StepFs.crashAt(crash)(IndexCatalog.vacuum(spark, root))
      }
      IndexCatalog.resumeAppend(spark, root) // land any trailing crash
      val got = IndexCatalog.read(spark, root)
      val want = IndexBuilder.build(df(live.toSeq.sortBy(_._1)), "id", Seq("title"))

      val q = "a b c" // prefix-expands over most of the vocabulary
      def res(idx: graft.index.InvertedIndex) =
        QueryEngine.query(idx, q, BM25()).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val queriesOk = res(got) == res(want)

      // closing vacuum: all tombstones purged → exact table equality
      IndexCatalog.vacuum(spark, root)
      val gotV = IndexCatalog.read(spark, root)
      val dictOk =
        gotV.termdict.select("term", "df").exceptAll(want.termdict).count() == 0 &&
          want.termdict.exceptAll(gotV.termdict.select("term", "df")).count() == 0
      val sa = gotV.fieldStats(); val sb = want.fieldStats()
      val statsOk = sa.n == sb.n && sa.sums.toSeq == sb.sums.toSeq

      queriesOk && dictOk && statsOk && res(gotV) == res(want)
    }

  /** The same walk with the BLOCK TABLE live: a fold (`buildBlocks`) is
    * interleaved at random points, so appends fold O(delta) onto prior
    * folds, vacuums compact (or drop+strip) whatever fold state they find,
    * and crashed vacuums leave a block swap a later fold must finish. The
    * end state must satisfy: WAND over the folded block table ==
    * exhaustive over a one-shot in-memory build of the net corpus — for
    * every interleaving, under tombstones, at a block geometry small
    * enough (blockSize 8 × rangesPerGroup 2) that folds really do split
    * across rg partitions.
    */
  property("random walk with interleaved block folds: WAND == build(net corpus)") =
    forAll(caseGen) { case (docs, ops) =>
      import spark.implicits._
      def df(r: Seq[(Long, String)]) = r.toDF("id", "title")
      val rows = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val root = StepFs.tempRoot(spark, "graft_lifeblk_")

      val nAppends = math.max(1, ops.count(_.isInstanceOf[Append]))
      val cut = math.max(1, rows.size / (nAppends + 1))
      var pending = rows.drop(cut)
      var live = rows.take(cut).toMap
      IndexCatalog.build(df(rows.take(cut)), "id", Seq("title"), root, nBuckets = 4)
      IndexCatalog.buildBlocks(spark, root, blockSize = 8, rangesPerGroup = 2)

      ops.foreach {
        case Append(crash) =>
          val batch = pending.take(math.max(1, pending.size / 2))
          pending = pending.drop(batch.size)
          if (batch.nonEmpty) {
            if (crash) {
              IndexCatalog.resumeAppend(spark, root)
              IndexCatalog.stageAppend(df(batch), "id", root)
              ()
            } else IndexCatalog.addDocuments(df(batch), "id", root)
            live = live ++ batch
          }
        case Remove(pick) =>
          if (live.nonEmpty) {
            val ids = live.keys.toSeq.sorted
            val id = ids(pick % ids.size)
            IndexCatalog.removeDocuments(spark, root, Seq(id))
            live = live - id
          }
        case Vacuum(crash) =>
          // a single writer FOLDS here too — this is the append-then-WAND
          // serving loop the incremental path exists for (the geometry
          // params only apply if the vacuum dropped the table and this is
          // a full rebuild; an incremental fold keeps the recorded config)
          if (!StepFs.crashAt(crash)(IndexCatalog.vacuum(spark, root)))
            IndexCatalog.buildBlocks(spark, root, blockSize = 8, rangesPerGroup = 2)
      }
      // single-writer close-out: land a trailing crashed append, then fold
      // (which also finishes a block swap a crashed vacuum left)
      IndexCatalog.resumeAppend(spark, root)
      IndexCatalog.buildBlocks(spark, root, blockSize = 8, rangesPerGroup = 2)

      val got = IndexCatalog.read(spark, root)
      val (blocks, bs, rpg) = IndexCatalog.readBlocks(spark, root)
      val want = IndexBuilder.build(df(live.toSeq.sortBy(_._1)), "id", Seq("title"))
      val q = "a b c"
      val wand = graft.query.BlockMaxTopK.query(got, blocks, q, BM25(), k = 10,
        blockSize = bs, rangesPerGroup = rpg)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exact = QueryEngine.query(want, q, BM25(), limit = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      wand == exact
    }
}
