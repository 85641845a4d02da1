package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** A seeded synthetic text corpus in the reference's job shape: `files`
  * plain-text files of about `bytesPerFile` bytes each, words drawn from a
  * Zipf(1.1) law over a seeded vocabulary. While writing, the generator
  * keeps the ground truth the MapReduce ops are checked against: the word
  * histogram and, for each word, the set of files it occurs in.
  *
  * Words are ASCII letters only and are separated by spaces, commas, full
  * stops and newlines, so the engine's "split on any non-letter" tokenizer
  * recovers exactly the generated words.
  */
final class Corpus(val dir: File, seed: Long, val files: Int,
    bytesPerFile: Int, vocab: Int) {
  require(files <= 64, "document sets are kept as 64-bit masks")

  /** word -> occurrences */
  val counts = mutable.HashMap.empty[String, Long]
  /** word -> bit i set when file i contains it */
  val docMask = mutable.HashMap.empty[String, Long]
  var bytes = 0L

  def fileName(i: Int): String = f"part-$i%02d.txt"

  def generate(): Unit = {
    val rng = new java.util.Random(seed)
    val letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val seen = mutable.HashSet.empty[String]
    val words = Array.fill(vocab) {
      var w = ""
      while (w.isEmpty || seen(w)) {
        val n = 2 + rng.nextInt(9)
        w = (0 until n).map(_ => letters.charAt(rng.nextInt(26))).mkString
        if (rng.nextInt(8) == 0) w = w.capitalize
      }
      seen += w
      w
    }
    val cdf = new Array[Double](vocab)
    var acc = 0.0
    for (r <- 0 until vocab) { acc += 1.0 / math.pow(r + 1, 1.1); cdf(r) = acc }
    def draw(): String = {
      val u = rng.nextDouble() * acc
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(vocab - 1, if (i >= 0) i else -i - 1))
    }
    dir.mkdirs()
    for (f <- 0 until files) {
      val out = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, fileName(f))), StandardCharsets.UTF_8))
      try {
        var written = 0
        var inLine = 0
        while (written < bytesPerFile) {
          val w = draw()
          counts(w) = counts.getOrElse(w, 0L) + 1
          docMask(w) = docMask.getOrElse(w, 0L) | (1L << f)
          val sep = rng.nextInt(40) match {
            case 0 => ". "
            case 1 => ", "
            case _ => if (inLine >= 12) "\n" else " "
          }
          inLine = if (sep == "\n") 0 else inLine + 1
          out.write(w); out.write(sep)
          written += w.length + sep.length
        }
        bytes += written
      } finally out.close()
    }
  }

  def docSet(word: String): Set[String] = {
    val m = docMask.getOrElse(word, 0L)
    (0 until files).filter(i => (m & (1L << i)) != 0).map(fileName).toSet
  }

  def delete(): Unit = {
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    dir.delete(): Unit
  }
}
