package perfbench

import graft.core.Turn

/** Seeded input generators. Every value is a pure function of (seed, index)
  * through splitmix64, so the same seed gives the same inputs under any
  * partitioning, and the checks can regenerate any row on the driver
  * without asking the program for it.
  */
object Gen {

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Independent 64-bit value for (seed, stream, index). */
  def h(seed: Long, stream: Long, index: Long): Long =
    mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + index * 0xD1B54A32D192ED03L)

  def u01(seed: Long, stream: Long, index: Long): Double =
    (h(seed, stream, index) >>> 11).toDouble / (1L << 53).toDouble

  def below(seed: Long, stream: Long, index: Long, n: Int): Int =
    ((h(seed, stream, index) >>> 1) % n).toInt

  /** Cumulative Zipf weights 1/rank^s over n ranks. */
  def zipfCum(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  /** First rank whose cumulative weight reaches u (binary search). */
  def zipfRank(cum: Array[Double], u: Double): Int = {
    var lo = 0
    var hi = cum.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) >= u) hi = mid else lo = mid + 1
    }
    lo
  }

  // --- software vocabularies ----------------------------------------------

  /** One software name with its surface variants. `variants(0)` is the
    * canonical spelling; every variant belongs to the same true cluster.
    */
  final case class Name(variants: Array[String])

  /** Names in Zipf rank order with the cumulative rank weights. */
  final case class Vocab(names: Array[Name], cum: Array[Double]) {
    lazy val surfaceCluster: Map[String, Int] =
      names.iterator.zipWithIndex.flatMap { case (n, i) => n.variants.iterator.map(_ -> i) }.toMap
  }

  val ZipfS = 1.0

  // consonants without h/w/y so no generated word is an English stopword
  // (a stopword inside a name would vanish under normalisation and merge
  // unrelated names)
  private val Cons = "bdfgklmnprstvz"
  private val Vows = "aeiou"

  /** A capitalised CVCVC word: 14·5·14·5·14 = 68,600 possible words. */
  def word(seed: Long, stream: Long, i: Long): String = {
    val x = h(seed, stream, i)
    val c = Array(
      Cons((x & 0xFFFF).toInt % 14).toUpper, Vows(((x >>> 16) & 0xFFFF).toInt % 5),
      Cons(((x >>> 32) & 0xFFFF).toInt % 14), Vows(((x >>> 48) & 0xFF).toInt % 5),
      Cons(((x >>> 56) & 0xFF).toInt % 14))
    new String(c)
  }

  /** Long-tail vocabulary: `nNames` distinct generated names, `nAbbr` of
    * them three words long with an initialism unique in the vocabulary
    * (so an abbreviation names exactly one cluster), the rest two words.
    * Variants: canonical "Bodak Tivez", upper "BODAK TIVEZ", lower
    * "bodak tivez", hyphen "Bodak-Tivez" and, for three-word names, the
    * initialism "BTG". Zipf rank order is a seeded shuffle of the names.
    */
  def longTailVocab(seed: Long, nNames: Int, nAbbr: Int): Vocab = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val initials = scala.collection.mutable.HashSet.empty[String]
    val out = new Array[Name](nNames)
    var i = 0
    var draw = 0L
    while (i < nNames) {
      val threeWords = i < nAbbr
      val ws = (0 until (if (threeWords) 3 else 2)).map(k => word(seed, 10 + k, draw))
      draw += 1
      val canonical = ws.mkString(" ")
      val abbr = ws.map(_.head).mkString
      val fresh = !seen.contains(canonical.toLowerCase) &&
        (!threeWords || !initials.contains(abbr))
      if (fresh) {
        seen += canonical.toLowerCase
        if (threeWords) initials += abbr
        val hyphen = ws.head + "-" + ws.tail.mkString(" ")
        val vs = Array(canonical, canonical.toUpperCase, canonical.toLowerCase, hyphen) ++
          (if (threeWords) Array(abbr) else Array.empty[String])
        out(i) = Name(vs)
        i += 1
      }
    }
    // seeded Fisher-Yates: abbreviated names spread over all ranks
    var j = nNames - 1
    while (j > 0) {
      val k = below(seed, 20, j, j + 1)
      val t = out(j); out(j) = out(k); out(k) = t
      j -= 1
    }
    Vocab(out, zipfCum(nNames, ZipfS))
  }

  // --- transcripts ---------------------------------------------------------

  /** Turn templates: prefix, software name, suffix. A template is a trigger
    * template when it holds a lemma the detector's context rules anchor on
    * (use, with, software).
    */
  final case class Template(prefix: String, suffix: String, hasName: Boolean, trigger: Boolean)

  val Templates: Array[Template] = Array(
    Template("All analyses were performed using ", " software [ 7 ] .", hasName = true, trigger = true),
    Template("Data were processed with ", " version 2.1 for the main cohort .", hasName = true, trigger = true),
    Template("We ran ", " on the cluster and exported the tables .", hasName = true, trigger = false),
    Template("Results were checked in ", " ( IBM Corp. ) afterwards .", hasName = true, trigger = false),
    Template("No software was mentioned in this turn at all .", "", hasName = false, trigger = true),
    Template("", " was used for statistical analysis of the cohort .", hasName = true, trigger = true),
    Template("The ", " 3.4.1 release is available at www.example.org/tools .", hasName = true, trigger = false))

  val TurnsPerConv = 10

  /** What the generator planted in one turn. `name` is -1 for a turn
    * without a software name.
    */
  final case class Planted(template: Int, name: Int, variant: Int) {
    def surface(v: Vocab): String = v.names(name).variants(variant)
    def text(v: Vocab): String = {
      val t = Templates(template)
      if (t.hasName) t.prefix + surface(v) + t.suffix else t.prefix
    }
    def offset: Int = Templates(template).prefix.length
  }

  /** Variant mix: canonical half the time, the other variants share the
    * rest evenly.
    */
  def planted(seed: Long, v: Vocab, id: Long): Planted = {
    val tpl = below(seed, 1, id, Templates.length)
    if (!Templates(tpl).hasName) Planted(tpl, -1, -1)
    else {
      val name = zipfRank(v.cum, u01(seed, 2, id))
      val nv = v.names(name).variants.length
      val variant = if (nv == 1 || u01(seed, 3, id) < 0.5) 0 else 1 + below(seed, 4, id, nv - 1)
      Planted(tpl, name, variant)
    }
  }

  private val Epoch = java.sql.Timestamp.valueOf("2025-01-01 00:00:00").getTime

  def turn(seed: Long, v: Vocab, id: Long): Turn = {
    val conv = id / TurnsPerConv
    val idx = (id % TurnsPerConv).toInt
    val role = idx % 3 match { case 0 => "user"; case 1 => "assistant"; case _ => "tool" }
    Turn(s"c$conv", idx, role, planted(seed, v, id).text(v),
      if (role == "tool") "search" else null, new java.sql.Timestamp(Epoch + id * 1000L))
  }

  def turnId(conv_id: String, turn_idx: Int): Long = conv_id.substring(1).toLong * TurnsPerConv + turn_idx

  // --- documents -----------------------------------------------------------

  val DocTokens = 60
  val GroupSize = 5
  val TokenVocab = 20000

  def token(seed: Long, t: Int): String = {
    val x = h(seed, 30, t)
    val len = 3 + ((x >>> 60) % 5).toInt
    val sb = new java.lang.StringBuilder(len)
    var k = 0
    while (k < len) { sb.append(('a' + ((x >>> (5 * k)) & 0x1F) % 26).toChar); k += 1 }
    sb.append(t) // keeps tokens distinct
    sb.toString
  }

  /** Documents `0 until nGrouped` form planted groups of [[GroupSize]]: the
    * first member of a group is a base text of [[DocTokens]] random tokens;
    * member j > 0 replaces the token at position 2 + 15·(j−1) by another
    * token. Positions 15 apart make every planted pair's
    * 3-shingle Jaccard exact: 55/61 against the base, 52/64 between two
    * edited members. Documents from `nGrouped` on are unrelated.
    */
  def docTokens(seed: Long, nGrouped: Int, doc: Int): Array[Int] = {
    val group = if (doc < nGrouped) doc / GroupSize else doc
    val base = Array.tabulate(DocTokens)(p => below(seed, 31, group.toLong * DocTokens + p, TokenVocab))
    if (doc < nGrouped && doc % GroupSize != 0) {
      val j = doc % GroupSize
      val pos = 2 + 15 * (j - 1)
      val r = below(seed, 32, doc, TokenVocab - 1)
      base(pos) = if (r >= base(pos)) r + 1 else r
    }
    base
  }

  def docText(seed: Long, nGrouped: Int, doc: Int): String =
    docTokens(seed, nGrouped, doc).map(token(seed, _)).mkString(" ")

  def groupOf(nGrouped: Int, doc: Long): Long = if (doc < nGrouped) doc / GroupSize else -1L - doc
}
