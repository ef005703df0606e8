package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One generated document, in the column order of the `documents` table. */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** Seeded generator of a `documents` corpus shaped like the sf-scale table
  * (doc_id, text, lang, source, n_chars): Zipf-distributed words over a
  * fixed vocabulary, ~20% non-English and a few too-short rows, 20 sources.
  * Planted on top, so every curation gate has work:
  *  - exact copies of an earlier document's text;
  *  - near copies (a few word substitutions);
  *  - benchmark copies: corpus documents (doc_id % 20 != 0) that copy an
  *    8-word run, a light edit, or a reordering of a benchmark-slice
  *    document (doc_id % 20 == 0, the slice `Curate.curateDecontam` uses).
  */
object Corpus {
  val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "fi",
      "gu", "he", "ja", "ko", "le", "mo", "nu", "ri")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 1500) {
      val n = 1 + r.nextInt(3)
      seen += (0 until n).map(_ => syll(r.nextInt(syll.length))).mkString
    }
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val w = Vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.length - 1))
  }

  private val Langs = Array("de", "fr", "zh")

  /** `n` documents with ids `first until first + n`. */
  def generate(seed: Long, first: Long, n: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed * 1000003L + first)
    val toks = ArrayBuffer.empty[Array[String]]
    def fresh(): Array[String] = {
      val len = if (r.nextInt(50) == 0) 1 + r.nextInt(4) else 12 + r.nextInt(110)
      Array.fill(len)(word(r))
    }
    def benchIdx(i: Int): Option[Int] = {
      // latest benchmark-slice document before i (ids are first + index)
      val id = first + i
      val b = (id - 1) / 20 * 20
      if (b >= first && b < id) Some((b - first).toInt) else None
    }
    for (i <- 0 until n) {
      val id = first + i
      val roll = r.nextInt(100)
      val t: Array[String] =
        if (i < 10 || id % 20 == 0 || roll >= 16) fresh()
        else if (roll < 5) toks(r.nextInt(i)).clone()
        else if (roll < 10) {
          val src = toks(r.nextInt(i)).clone()
          if (src.length >= 30) (0 until 2).foreach(_ => src(r.nextInt(src.length)) = word(r))
          src
        } else benchIdx(i).map(toks(_)).filter(_.length >= 24) match {
          case Some(b) if roll < 12 =>
            val at = r.nextInt(b.length - 8)
            fresh() ++ b.slice(at, at + 8) ++ fresh().take(6)
          case Some(b) if roll < 14 =>
            val c = b.clone(); c(r.nextInt(c.length)) = word(r); c
          case Some(b) =>
            val c = b.clone()
            for (j <- c.indices.reverse) { val k = r.nextInt(j + 1); val x = c(j); c(j) = c(k); c(k) = x }
            c
          case None => fresh()
        }
      toks += t
    }
    toks.indices.map { i =>
      val text = toks(i).mkString(" ")
      val lang = if (r.nextInt(5) == 0) Langs(r.nextInt(Langs.length)) else "en"
      Doc(first + i, text, lang, s"src${r.nextInt(20)}", text.length.toLong)
    }
  }
}
