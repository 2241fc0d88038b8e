package graft.perfbench

import java.util.SplittableRandom

/** One search a client sends. */
final case class Query(text: String, mode: String, topK: Int)

/** Seeded input generation. Everything the program receives is built
  * here from the seed and the fixed corpus texts, so one seed always
  * gives the same requests and another seed gives other ones. Each input
  * kind draws from its own stream, so adding draws to one kind leaves the
  * others unchanged. */
object Gen {
  private def stream(seed: Long, kind: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + kind)

  /** Distinct whitespace tokens of the corpus, sorted. */
  def vocabulary(texts: Seq[String]): IndexedSeq[String] =
    texts.iterator.flatMap(_.split("\\s+")).filter(_.nonEmpty).toSet.toIndexedSeq.sorted

  /** Endless closed-loop search mix of one client: 1-3 corpus terms,
    * top_k 10, modes 80% hybrid, 10% keyword, 10% semantic. The mix is
    * stratified: every block of 30 queries holds exactly that mode mix
    * and ten queries of each term count, in a seeded order with seeded
    * terms, so seeds differ in the requests but not in their proportions.
    * `stream` separates independent uses of one seed (the timed loop from
    * the warm-up). */
  def queries(seed: Long, vocab: IndexedSeq[String], stream: Int = 0)(client: Int): Iterator[Query] = {
    val r = Gen.stream(seed, 1000L * stream + 10 + client)
    val modes = Seq.fill(24)("hybrid") ++ Seq.fill(3)("keyword") ++ Seq.fill(3)("semantic")
    val counts = Seq.fill(10)(Seq(1, 2, 3)).flatten
    def shuffled[A: scala.reflect.ClassTag](xs: Seq[A]): Seq[A] = {
      val a = xs.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    Iterator.continually(shuffled(modes).zip(shuffled(counts))).flatten.map { case (mode, n) =>
      Query(Seq.fill(n)(vocab(r.nextInt(vocab.length))).mkString(" "), mode, 10)
    }
  }

  /** A term no corpus text contains: lower-case letters and digits, so
    * the keyword tokenizer keeps it whole. */
  def sentinelTerm(seed: Long, i: Int): String = {
    val r = stream(seed, 100L + i)
    "sentinel" + java.lang.Long.toHexString(r.nextLong() & 0xffffffffffL) + i
  }

  /** `n` single-file documents, each one corpus text plus its sentinel
    * term: (path, content, term). */
  def sentinelDocs(seed: Long, n: Int, texts: IndexedSeq[String],
      prefix: String): Seq[(String, String, String)] = {
    val r = stream(seed, 2)
    (0 until n).map { i =>
      val term = sentinelTerm(seed, i)
      (s"/$prefix/s$i.txt", s"${texts(r.nextInt(texts.length))} $term", term)
    }
  }

  /** Endless bulk-upload batches of `size` documents. Each document joins
    * 10-100 corpus texts, so it spans several chunks. The lengths are
    * evenly spaced and fixed per position in the batch, the same for
    * every seed: the store places a document's rows by its path, which
    * does not depend on the seed either, so seeds differ in the texts a
    * batch carries but not in how much work lands on each Spark task.
    * After the first batch, `size / 10` files of each batch
    * re-upload a path first uploaded by the batch before, with new content
    * (an upsert to generation 2). Drawing them all from the batch before
    * keeps the data an upsert replaces the same size in every batch. */
  def uploadBatches(seed: Long, texts: IndexedSeq[String], prefix: String,
      size: Int = 100): Iterator[Seq[(String, String)]] = {
    val r = stream(seed, 3 + prefix.hashCode.toLong * 7919)
    var previous = IndexedSeq.empty[String] // fresh paths of the batch before
    var next = 0
    val lengths = new scala.util.Random(0).shuffle((0 until size).map(i => 10 + 90 * i / math.max(size - 1, 1)))
    def content(n: Int): String = Seq.fill(n)(texts(r.nextInt(texts.length))).mkString("\n\n")
    Iterator.continually {
      val pool = previous.toBuffer
      val reuse = (0 until math.min(size / 10, pool.length)).map(_ => pool.remove(r.nextInt(pool.length)))
      val fresh = (0 until size - reuse.size).map { _ => next += 1; f"/$prefix/d${next - 1}%06d.txt" }
      previous = fresh
      (fresh ++ reuse).zip(lengths).map { case (p, n) => (p, content(n)) }.toSeq
    }
  }
}
