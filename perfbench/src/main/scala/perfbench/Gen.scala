package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Sizes of one generated Biarcs corpus and its gold standard. */
final case class CorpusSpec(
    lines: Int,
    vocab: Int,
    topics: Int,
    goldPairs: Int,
    relatedRate: Double,
    absentPairs: Int)

/** Deterministic, seed-driven generator of Google-Syntactic-Ngrams-style
  * Biarcs lines (`head<TAB>w/POS/dep/head ...<TAB>count<TAB>year,count`) and
  * a gold-standard pair file (`w1<TAB>w2<TAB>true|false`).
  *
  * The vocabulary is the same for every seed. Words carry a topic; a line
  * draws most of its tokens from one topic, with Zipf-distributed ranks
  * inside the topic and over the whole vocabulary.
  * Related gold pairs share a topic, unrelated pairs do not, so the pair
  * vectors carry real signal for the classifier. A stated share of lines is
  * malformed in the ways the parser must drop (short line, non-numeric
  * count, slashless token, out-of-range head).
  */
object Gen {

  /** Share of lines malformed in one of the four ways. */
  val MalformedRate = 0.005
  /** Tokens a line, drawn uniformly. */
  val MinTokens = 2
  val MaxTokens = 20
  /** Share of a line's tokens drawn from the line's topic. */
  val TopicAffinity = 0.8

  private val onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m",
    "n", "p", "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "gr",
    "pl", "pr", "sh", "st", "tr", "th")
  private val vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "io", "ou")
  private val suffixes = Array("", "", "", "s", "ing", "ed", "ation", "ness",
    "er", "ly", "ful", "ize")
  private val pos = Array("NN", "NNS", "VB", "VBD", "VBG", "JJ", "RB", "IN")
  private val deps = Array("nsubj", "dobj", "amod", "prep", "pobj", "det",
    "advmod", "conj", "cc", "aux", "nn", "ccomp")

  final class Vocab(val words: Array[String], val byTopic: Array[Array[Int]])

  def vocab(rng: SplittableRandom, spec: CorpusSpec): Vocab = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < spec.vocab) {
      val sb = new StringBuilder
      val syll = 1 + rng.nextInt(3)
      var i = 0
      while (i < syll) {
        sb.append(onsets(rng.nextInt(onsets.length)))
          .append(vowels(rng.nextInt(vowels.length)))
        i += 1
      }
      if (rng.nextInt(3) == 0) sb.append(onsets(rng.nextInt(onsets.length)))
      sb.append(suffixes(rng.nextInt(suffixes.length)))
      seen += sb.toString
    }
    val words = seen.toArray
    val byTopic = Array.tabulate(spec.topics)(t =>
      words.indices.filter(_ % spec.topics == t).toArray)
    new Vocab(words, byTopic)
  }

  /** Cumulative Zipf(1.0) weights over ranks 1..n. */
  private def zipf(n: Int): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
    c
  }

  private def draw(rng: SplittableRandom, cum: Array[Double]): Int = {
    val x = rng.nextDouble() * cum(cum.length - 1)
    val i = java.util.Arrays.binarySearch(cum, x)
    if (i >= 0) i else math.min(-i - 1, cum.length - 1)
  }

  private def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8),
      1 << 20)

  /** Writes `corpus.txt` and `gold.txt` into `dir`; returns their paths and
    * the number of corpus tokens written.
    */
  def write(dir: Path, seed: Long, spec: CorpusSpec): (Path, Path, Long) = {
    Files.createDirectories(dir)
    // The vocabulary is fixed, like a language; the seed draws the text.
    // A per-seed vocabulary would make stem collisions, and with them the
    // pair counts, vary from seed to seed.
    val v = vocab(new SplittableRandom(0x5EED), spec)
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val globalCum = zipf(v.words.length)
    val topicCum = v.byTopic.map(ws => zipf(ws.length))
    val corpus = dir.resolve("corpus.txt")
    val out = writer(corpus)
    var tokens = 0L
    try {
      var line = 0
      while (line < spec.lines) {
        val topic = rng.nextInt(spec.topics)
        val n = MinTokens + rng.nextInt(MaxTokens - MinTokens + 1)
        val root = rng.nextInt(n)
        val toks = Array.tabulate(n) { i =>
          val w =
            if (rng.nextDouble() < TopicAffinity)
              v.words(v.byTopic(topic)(draw(rng, topicCum(topic))))
            else v.words(draw(rng, globalCum))
          val head =
            if (i == root) 0
            else if (rng.nextBoolean()) root + 1
            else { val h = rng.nextInt(n); if (h == i) root + 1 else h + 1 }
          s"$w/${pos(rng.nextInt(pos.length))}/${deps(rng.nextInt(deps.length))}/$head"
        }
        val count = 10 + rng.nextInt(490)
        val ngram =
          if (rng.nextDouble() >= MalformedRate) toks.mkString(" ")
          else rng.nextInt(4) match {
            case 0 => null
            case 1 => toks.mkString(" ") + "\tcount"
            case 2 => (toks :+ "slashless").mkString(" ")
            case _ => toks.mkString(" ").replaceFirst("/\\d+$", s"/${n + 5}")
          }
        tokens += (if (ngram == null) 0 else ngram.count(_ == ' ') + 1)
        val headWord = toks(root).takeWhile(_ != '/')
        if (ngram == null) out.write(s"$headWord\t${toks.head}\n")
        else if (ngram.contains("\tcount")) out.write(s"$headWord\t$ngram\t2000,$count\n")
        else out.write(s"$headWord\t$ngram\t$count\t2000,${count / 2}\t2001,${count - count / 2}\n")
        line += 1
      }
    } finally out.close()

    val gold = dir.resolve("gold.txt")
    val g = writer(gold)
    try {
      // gold words come from each topic's most frequent ranks
      val head = math.max(2, math.min(60, v.byTopic.map(_.length).min))
      val pairs = mutable.LinkedHashSet.empty[(Int, Int)]
      val labels = mutable.ArrayBuffer.empty[(Int, Int, Boolean)]
      val nRelated = math.round(spec.goldPairs * spec.relatedRate).toInt
      while (labels.size < spec.goldPairs) {
        val related = labels.size < nRelated
        val t1 = rng.nextInt(spec.topics)
        val t2 =
          if (related) t1
          else (t1 + 1 + rng.nextInt(spec.topics - 1)) % spec.topics
        val a = v.byTopic(t1)(rng.nextInt(head))
        val b = v.byTopic(t2)(rng.nextInt(head))
        if (a != b && pairs.add((a, b)) && !pairs.contains((b, a)))
          labels += ((a, b, related))
      }
      // deterministic interleave so related pairs are not all first
      val shuffled = labels.toArray
      var i = shuffled.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
        i -= 1
      }
      shuffled.foreach { case (a, b, r) =>
        g.write(s"${v.words(a)}\t${v.words(b)}\t$r\n")
      }
      (0 until spec.absentPairs).foreach { k =>
        g.write(s"qxabsent${k}q\tqxmissing${k}q\tfalse\n")
      }
    } finally g.close()
    (corpus, gold, tokens)
  }
}
