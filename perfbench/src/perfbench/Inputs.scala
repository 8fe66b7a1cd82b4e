package perfbench

import scala.util.Random

/** The curation corpus, generated from the seed in the shape of the
  * engine's documents⋈embeddings test fixture: texts of 10–100 words from
  * a small vocabulary, 64-dim embeddings around ten topic centres, and a
  * share of near-duplicates (a copied earlier text with a few words
  * changed, and an embedding next to the copied one) and exact copies, so
  * every dedup family has work to do. */
object Inputs {
  final case class Doc(id: Long, text: String, key: String, embedding: Array[Float])

  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order slow line " +
    "part fast row the agg key query a scan batch dup").split(" ").toIndexedSeq
  val EmbDim = 64
  val Topics = 10

  /** The q122 dedup key: the first 24 characters of the lowercased,
    * alphanumeric text. */
  def keyOf(text: String): String =
    text.toLowerCase.replaceAll("[^A-Za-z0-9 ]", "").take(24).trim

  def corpus(n: Int, seed: Long): IndexedSeq[Doc] = {
    val rnd = new Random(seed ^ 0xc0ffeeL)
    val centres = Array.fill(Topics, EmbDim)(rnd.nextGaussian())
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val docs = scala.collection.mutable.ArrayBuffer[Doc]()
    for (i <- 0 until n) {
      val r = rnd.nextDouble()
      val (text, emb) =
        if (i > 20 && r < 0.10) {
          val src = docs(rnd.nextInt(docs.size))
          val words = src.text.split(" ")
          if (r >= 0.02) // near-duplicate: a few words changed
            for (_ <- 0 until 1 + rnd.nextInt(2))
              words(rnd.nextInt(words.length)) = Vocab(rnd.nextInt(Vocab.size))
          (words.mkString(" "),
            unit(src.embedding.map(x => x + rnd.nextGaussian() * 0.01)))
        } else {
          val len = 10 + rnd.nextInt(91)
          val c = centres(rnd.nextInt(Topics))
          (Seq.fill(len)(Vocab(rnd.nextInt(Vocab.size))).mkString(" "),
            unit(c.map(x => x + rnd.nextGaussian() * 0.6)))
        }
      docs += Doc(i.toLong, text, keyOf(text), emb)
    }
    docs.toIndexedSeq
  }

  /** A digest of every generated input for `seed`: equal seeds give equal
    * digests. */
  def digest(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    val h = Lifecycle.history(seed)
    h.ids.foreach { c =>
      h.vecs(c).foreach(v => add(v.mkString(",")))
      h.ts(c).foreach(t => add(t.toString))
    }
    h.batches.foreach(b => add(b.mkString(";")))
    corpus(CurationWorkload.Docs, seed).foreach(d =>
      add(s"${d.id}|${d.text}|${d.key}|${d.embedding.mkString(",")}"))
    md.digest().map("%02x".format(_)).mkString
  }
}
