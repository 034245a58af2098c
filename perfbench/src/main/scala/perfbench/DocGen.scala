package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded document-batch generator for the text ingest stream, with its
  * own expected-value oracle.
  *
  * Words are random six-letter consonant-vowel strings from a space of a
  * million, so two independently drawn documents share no word trigram
  * (their Jaccard similarity is 0) and no document contains a language
  * stopword. The only near-duplicates are exact copies, which MinHash
  * always pairs. Per document of a batch, drawn from (seed, batch, index):
  *   - a share too short or too long for the token gate;
  *   - a share copying a seed document;
  *   - a share copying a document admitted by an earlier batch;
  *   - a share copying an earlier document of the same batch;
  *   - the rest novel.
  *
  * [[expected]] replays the pipeline's decision rules on the generated
  * texts (token gate, then the batch's minimum id represents each text,
  * then representatives against seed ∪ earlier admitted texts), never on
  * the engine's output.
  */
final class DocGen(seed: Long) {
  import DocGen._

  val seedDocs: IndexedSeq[(Long, String)] =
    (0 until SeedDocs).map { j =>
      val r = new SplittableRandom(MarketGen.mix(MarketGen.mix(seed, -1L), j.toLong))
      (SeedBase + j, text(r, MinWords + r.nextInt(MaxWords - MinWords + 1)))
    }

  private val batches = mutable.Map.empty[Int, IndexedSeq[(Long, String)]]
  private val decisions = mutable.Map.empty[Int, Map[Long, String]]
  /** text → smallest id holding it, over seed ∪ admitted so far. */
  private val corpus = mutable.Map.empty[String, Long] ++
    seedDocs.map { case (id, t) => t -> id }
  private val admitted = mutable.ArrayBuffer.empty[String]

  /** Batch `b`'s (doc_id, text) rows. Batches are made in order. */
  def batch(b: Int): IndexedSeq[(Long, String)] = {
    if (!batches.contains(b)) {
      if (b > 0) batch(b - 1)
      make(b)
    }
    batches(b)
  }

  /** Batch `b`'s expected audit detail per doc id; an admitted document's
    * detail is `admitted:` followed by its language, checked by prefix.
    */
  def expected(b: Int): Map[Long, String] = { batch(b); decisions(b) }

  private def make(b: Int): Unit = {
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val novel = mutable.ArrayBuffer.empty[String]
    for (j <- 0 until BatchDocs) {
      val r = new SplittableRandom(MarketGen.mix(MarketGen.mix(seed, b.toLong), j.toLong))
      val u = r.nextDouble()
      val t =
        if (u < 0.04) text(r, 1 + r.nextInt(MinTokens.toInt - 1))
        else if (u < 0.07) text(r, MaxTokens.toInt + 1 + r.nextInt(20))
        else if (u < 0.17) seedDocs(r.nextInt(seedDocs.size))._2
        else if (u < 0.25 && admitted.nonEmpty) admitted(r.nextInt(admitted.size))
        else if (u < 0.33 && novel.nonEmpty) novel(r.nextInt(novel.size))
        else {
          val n = text(r, MinWords + r.nextInt(MaxWords - MinWords + 1))
          novel += n
          n
        }
      docs += ((BatchBase + b.toLong * BatchStride + j, t))
    }
    val decided = mutable.Map.empty[Long, String]
    val (gated, passed) = docs.partition { case (_, t) =>
      val n = t.split(' ').length
      n < MinTokens || n > MaxTokens
    }
    gated.foreach { case (id, t) =>
      decided(id) = if (t.split(' ').length < MinTokens) "below_min_tokens" else "above_max_tokens"
    }
    passed.groupBy(_._2).foreach { case (t, group) =>
      val rep = group.map(_._1).min
      group.foreach { case (id, _) => if (id != rep) decided(id) = s"batch_dup:$rep" }
      decided(rep) = corpus.get(t).fold("admitted:")(c => s"corpus_dup:$c")
    }
    for ((id, t) <- passed.sortBy(_._1) if decided(id) == "admitted:") {
      corpus(t) = id
      admitted += t
    }
    batches(b) = docs.toIndexedSeq
    decisions(b) = decided.toMap
  }
}

object DocGen {
  private val SeedDocs = 200
  private val BatchDocs = 100
  val MinTokens = 5L
  val MaxTokens = 60L
  private val MinWords = 12
  private val MaxWords = 40
  private val SeedBase = 1L
  private val BatchBase = 1000000L
  private val BatchStride = 100000L

  private val Consonants = "bcdfghjklmnprstvwxyz"
  private val Vowels = "aeiou"

  private def word(r: SplittableRandom): String = {
    val sb = new StringBuilder
    for (_ <- 0 until 3)
      sb.append(Consonants.charAt(r.nextInt(Consonants.length)))
        .append(Vowels.charAt(r.nextInt(Vowels.length)))
    sb.toString
  }

  private def text(r: SplittableRandom, words: Int): String =
    Seq.fill(words)(word(r)).mkString(" ")
}
