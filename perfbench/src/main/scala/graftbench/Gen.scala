package graftbench

import java.util.SplittableRandom

import graft.analyze.CodeTokenizer

/** One generated source file. `doc_id` is dense from 1 so appended
  * micro-batches continue the id space without collisions. */
final case class Doc(doc_id: Long, repo: String, path: String, commit: String,
                     lang: String, content: String)

/** Seeded vocabulary with a Zipfian rank distribution. Words are built
  * from consonant-vowel syllables, so the dictionary holds many terms
  * within a small edit distance of each other and fuzzy expansion has a
  * real string-similarity problem to solve. Rank 0 is the hottest term. */
final class Vocab(seed: Long, val size: Int, exponent: Double) extends Serializable {
  private val onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r",
    "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "fl", "gr", "pl", "sh", "st", "tr")
  private val vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou")
  private val codas = Array("", "", "", "n", "r", "s", "t", "x", "ck", "ng")

  val words: Array[String] = {
    val rng = new SplittableRandom(seed)
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](size)
    var i = 0
    while (i < size) {
      val syl = 1 + rng.nextInt(4)
      val sb = new StringBuilder
      var s = 0
      while (s < syl) {
        sb.append(onsets(rng.nextInt(onsets.length)))
          .append(vowels(rng.nextInt(vowels.length)))
          .append(codas(rng.nextInt(codas.length)))
        s += 1
      }
      val w = sb.toString
      // every word must survive the analyzer unchanged, or the index
      // vocabulary would differ from the generator's
      if (w.length <= 14 && seen.add(w) && CodeTokenizer.tokenize(w).sameElements(Array(w))) {
        out(i) = w
        i += 1
      }
    }
    out
  }

  private val cdf: Array[Double] = {
    val c = new Array[Double](size)
    var acc = 0.0
    var r = 0
    while (r < size) { acc += 1.0 / math.pow(r + 1.0, exponent); c(r) = acc; r += 1 }
    r = 0
    while (r < size) { c(r) /= acc; r += 1 }
    c
  }

  /** Zipf-distributed rank. */
  def rank(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(size - 1, if (i >= 0) i else -i - 1)
  }

  def word(rng: SplittableRandom): String = words(rank(rng))
}

/** Corpus generator (FIXTURES.md section 1): Zipfian vocabulary,
  * camelCase and snake_case identifiers, code keywords (`package` lands
  * in every doc), and planted needle terms. */
final class CorpusGen(seed: Long, val vocab: Vocab) {
  import CorpusGen._

  /** Docs [first, first + n), each from its own seeded stream so any
    * slice regenerates identically. `needles(id)` plants that needle. */
  def docs(first: Long, n: Int, needles: Long => Option[String] = _ => None): Array[Doc] =
    Array.tabulate(n) { i =>
      val id = first + i
      val rng = new SplittableRandom(seed * 1000003L + id)
      val lang = Langs(rng.nextInt(Langs.length))
      val repo = s"org${rng.nextInt(8)}/repo${rng.nextInt(4)}"
      val lines = 2 + rng.nextInt(4)
      // every file opens with a package line, so `package` is in every doc
      val sb = new StringBuilder(s"package ${repo.replace('/', '.')}\n")
      var l = 0
      while (l < lines) {
        sb.append(line(rng)).append('\n')
        l += 1
      }
      needles(id).foreach(nd => sb.append("// see ").append(nd).append('\n'))
      Doc(id, repo, s"src/$lang/pkg${rng.nextInt(50)}/File$id.$lang",
        f"${(seed * 31 + id * 0x9E3779B97F4A7C15L) & Long.MaxValue}%040x".takeRight(40),
        lang, sb.toString)
    }

  private def camel(rng: SplittableRandom, parts: Int): String = {
    val sb = new StringBuilder(vocab.word(rng))
    var p = 1
    while (p < parts) { sb.append(vocab.word(rng).capitalize); p += 1 }
    sb.toString
  }

  private def snake(rng: SplittableRandom, parts: Int): String =
    Seq.fill(parts)(vocab.word(rng)).mkString("_")

  private def line(rng: SplittableRandom): String = rng.nextInt(4) match {
    case 0 => s"val ${camel(rng, 2)} = ${snake(rng, 2)}(${vocab.word(rng)}, ${vocab.word(rng)})"
    case 1 => s"def ${camel(rng, 3)}(${vocab.word(rng)}: ${camel(rng, 1).capitalize}) = ${snake(rng, 1)}"
    case 2 => s"// ${vocab.word(rng)} ${vocab.word(rng)} ${vocab.word(rng)} ${vocab.word(rng)}"
    case _ => s"if (${snake(rng, 2)}) return ${camel(rng, 2)}"
  }
}

object CorpusGen {
  val Langs = Array("scala", "java", "py", "go", "md")

  /** A needle term no vocabulary word can equal (vocabulary words have
    * no 'q'). */
  def needle(tag: String, i: Int): String = s"qx${tag}needle${alpha(i)}"

  def alpha(i: Int): String = {
    val sb = new StringBuilder
    var v = i
    do { sb.append(('a' + v % 26).toChar); v /= 26 } while (v > 0)
    sb.reverse.toString
  }

  /** sha-256 over (doc_id, content) in id order. */
  def digest(docs: Iterable[Doc]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { d =>
      md.update(java.lang.Long.toString(d.doc_id).getBytes("UTF-8"))
      md.update(0.toByte)
      md.update(d.content.getBytes("UTF-8"))
      md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
