package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Everything here is plain driver-side Scala:
  * the same (seed, shape) always yields the same rows in the same order,
  * and the expected outputs in [[Model]] are computed from these rows,
  * never from what graft produced.
  */
object Gen {

  /** Zipf(s) over ranks 1..n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val out = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); out(i) = acc; i += 1 }
      out.map(_ / acc)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo + 1
    }
  }

  // ---- events ------------------------------------------------------

  final case class Event(id: Long, tsNs: Long, user: Long, kind: String,
                         props: String)

  val BaseNs: Long = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
  val StepNs: Long = 1000000L // 1 ms between consecutive events

  /** Event types and their uniform mix, as graft's own `graft-events`
    * source draws them; `click` matches no transform rule.
    */
  private val kinds = Array("signup", "view", "purchase", "error", "click")
  private val kindCdf = Array(0.2, 0.4, 0.6, 0.8, 1.0)

  /** Props payloads that extract must drop: no match, a negative (no
    * digit run), and a value that overflows BIGINT.
    */
  private val malformed = Array("not-json", """{"k": -7}""",
    """{"k": 99999999999999999999}""")

  /** Key shape of one workload: Zipf exponent over bounded universes. */
  final case class KeyShape(users: Int, objects: Int, zipfS: Double) {
    lazy val userZ = new Zipf(users, zipfS)
    lazy val objZ = new Zipf(objects, zipfS)
  }

  /** `n` events with ids firstId.., time-ordered; ~1% malformed props. */
  def events(seed: Long, stream: Long, firstId: Long, n: Int,
             shape: KeyShape): Array[Event] = {
    val r = new SplittableRandom(seed * 1000003L + stream)
    Array.tabulate(n) { i =>
      val id = firstId + i
      val u = r.nextDouble()
      var k = 0
      while (kindCdf(k) < u) k += 1
      val user = shape.userZ.sample(r).toLong
      val obj = shape.objZ.sample(r).toLong
      val props =
        if (r.nextInt(100) == 0) malformed(r.nextInt(malformed.length))
        else s"""{"k": $obj}"""
      Event(id, BaseNs + id * StepNs, user, kinds(k), props)
    }
  }

  /** The ingest cycle: one backfill file then `rounds - 1` small files,
    * consecutive ids so event time never goes backwards.
    */
  def roundFiles(seed: Long, stream: Long, backfill: Int, perRound: Int,
                 rounds: Int, shape: KeyShape): Seq[Array[Event]] = {
    val sizes = backfill +: Seq.fill(rounds - 1)(perRound)
    val starts = sizes.scanLeft(0L)(_ + _)
    sizes.indices.map(i =>
      events(seed, stream * 100 + i, starts(i), sizes(i), shape))
  }

  // ---- documents ---------------------------------------------------

  final case class Doc(id: Long, text: String, lang: String)

  /** How a document was planted - the model's ground truth. */
  sealed trait Role
  case object Base extends Role
  final case class ExactCopy(of: Long) extends Role
  /** Member `pos` (>= 1) of a near-duplicate chain headed by `head`. */
  final case class NearCopy(head: Long, pos: Int) extends Role
  case object Noisy extends Role // long enough, punctuation-heavy
  case object Short extends Role // below the token floor

  /** Planted structure: counts are fixed by the shape, only the text
    * varies with the seed, so every seed has the same cluster depths.
    */
  final case class CorpusShape(docs: Int, exactCopies: Int,
                               chains: Seq[(Int, Int)], // (count, length)
                               short: Int, noisy: Int)

  private val stop = Array("the", "a", "and", "of", "to", "in", "is")
  private val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "ze", "po", "qu", "bi", "de", "fa", "gu", "ho")

  /** Pseudo-word for a vocabulary rank: base-16 syllables, never a
    * stopword.
    */
  def word(rank: Int): String = {
    val sb = new StringBuilder("x")
    var v = rank
    while ({ sb.append(syll(v & 15)); v >>>= 4; v > 0 }) ()
    sb.toString
  }

  private val vocab = new Zipf(6000, 1.0)

  private def token(r: SplittableRandom): String = {
    val t = if (r.nextInt(100) < 15) stop(r.nextInt(stop.length))
      else word(vocab.sample(r))
    if (r.nextInt(100) < 3) t + (if (r.nextBoolean()) "," else ".") else t
  }

  private def tokens(r: SplittableRandom, lo: Int, hi: Int): Array[String] =
    Array.fill(lo + r.nextInt(hi - lo + 1))(token(r))

  /** The corpus in doc_id order plus each doc's planted role. Chain
    * members and exact copies always take higher ids than their source,
    * so the near-dup loser of every planted pair is the copy.
    */
  def corpus(seed: Long, stream: Long,
             shape: CorpusShape): (Array[Doc], Map[Long, Role]) = {
    val r = new SplittableRandom(seed * 7919L + stream)
    val langs = Array("en", "de", "fr", "es")
    val docs = Array.newBuilder[Doc]
    val roles = Map.newBuilder[Long, Role]
    var next = 0L
    def add(toks: Array[String], role: Role): Long = {
      val id = next
      next += 1
      docs += Doc(id, toks.mkString(" "), langs(r.nextInt(langs.length)))
      roles += id -> role
      id
    }
    def shuffled[T](xs: Seq[T]): Seq[T] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    val chainDocs = shape.chains.map { case (n, len) => n * len }.sum
    val bases = shape.docs - shape.exactCopies - chainDocs - shape.short -
      shape.noisy
    require(bases >= shape.exactCopies, s"corpus shape leaves $bases bases")
    // units in a seeded order; a chain's members stay consecutive
    val units = shuffled(Seq.fill(bases)(1) ++ Seq.fill(shape.short)(-1) ++
      Seq.fill(shape.noisy)(-2) ++
      shape.chains.flatMap { case (n, len) => Seq.fill(n)(len) })
    var texts = Vector.empty[(Long, Array[String])]
    units.foreach {
      case -1 => add(tokens(r, 8, 24), Short)
      case -2 => add(tokens(r, 35, 45).map(_ + "!?;:!?"), Noisy)
      case 1 =>
        val toks = tokens(r, 60, 140)
        texts :+= add(toks, Base) -> toks
      case len =>
        // each member replaces one token of its predecessor
        var cur = tokens(r, 60, 140)
        val head = add(cur, Base)
        for (pos <- 1 until len) {
          cur = cur.clone()
          cur(r.nextInt(cur.length)) = word(6000 + r.nextInt(60000))
          add(cur, NearCopy(head, pos))
        }
    }
    shuffled(texts).take(shape.exactCopies).sortBy(_._1).foreach {
      case (src, toks) => add(toks, ExactCopy(src))
    }
    (docs.result(), roles.result())
  }
}
