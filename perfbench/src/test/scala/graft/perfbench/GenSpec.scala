package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val texts = IndexedSeq(
    "spark join window scan", "vector column line part", "batch sort hash group query",
    "stream table merge data key", "filter order small big fast slow")
  private val vocab = Gen.vocabulary(texts)

  private def queries(seed: Long, client: Int) = Gen.queries(seed, vocab)(client).take(200).toList
  private def batches(seed: Long) = Gen.uploadBatches(seed, texts, "ingest", 100).take(4).toList

  test("the same seed gives identical inputs") {
    assert(queries(7, 0) == queries(7, 0))
    assert(batches(7) == batches(7))
    assert(Gen.sentinelDocs(7, 8, texts, "s") == Gen.sentinelDocs(7, 8, texts, "s"))
  }

  test("a different seed gives different inputs") {
    assert(queries(7, 0) != queries(8, 0))
    assert(batches(7) != batches(8))
    assert(Gen.sentinelTerm(7, 0) != Gen.sentinelTerm(8, 0))
  }

  test("clients and warm-up draw from separate streams") {
    assert(queries(7, 0) != queries(7, 1))
    assert(Gen.queries(7, vocab, stream = 900)(0).take(50).toList != queries(7, 0).take(50))
  }

  test("queries: corpus terms, top_k 10, every block of 30 holds the stratified mix") {
    val qs = queries(3, 0)
    assert(qs.forall(q => q.text.split(" ").forall(vocab.contains) && q.topK == 10))
    qs.grouped(30).filter(_.size == 30).foreach { block =>
      assert(block.groupBy(_.mode).view.mapValues(_.size).toMap ==
        Map("hybrid" -> 24, "keyword" -> 3, "semantic" -> 3))
      assert(block.groupBy(_.text.split(" ").length).view.mapValues(_.size).toMap ==
        Map(1 -> 10, 2 -> 10, 3 -> 10))
    }
  }

  test("upload batches: 100 distinct paths, 10 upserts of paths from the batch before") {
    val bs = batches(5)
    assert(bs.forall(b => b.size == 100 && b.map(_._1).distinct.size == 100))
    bs.zipWithIndex.foreach { case (b, i) =>
      val earlier = bs.take(i).flatMap(_.map(_._1)).toSet
      val reused = b.map(_._1).filter(earlier)
      if (i == 0) assert(reused.isEmpty)
      else assert(reused.size == 10 && reused.forall(bs(i - 1).map(_._1).toSet))
    }
    val parts = bs.flatten.map(_._2.split("\n\n").length)
    assert(parts.min >= 10 && parts.max <= 100)
    // document lengths are fixed per position, whatever the seed
    val lengths = (bs ++ batches(6)).map(_.map(_._2.split("\n\n").length)).distinct
    assert(lengths.size == 1 && lengths.head.distinct.size > 50)
  }

  test("sentinel terms are absent from the corpus vocabulary") {
    val docs = Gen.sentinelDocs(11, 8, texts, "sentinel")
    assert(docs.map(_._3).distinct.size == 8)
    assert(docs.forall { case (_, content, term) => !vocab.contains(term) && content.endsWith(term) })
  }
}
