package graftbench

import Gen._

/** Expected outputs, computed from the generated rows alone with the
  * semantics graft documents (reference caches, update-mode publish,
  * the bucketed sink's compaction rule, the clean's quality formula).
  */
object Model {

  // ---- extract / transform -----------------------------------------

  private val propsK = "\"k\": (\\d+)".r.unanchored

  /** Extract's object id: the first `"k": <digits>` run that fits a
    * BIGINT, else the event is dropped.
    */
  def objOf(props: String): Option[Long] = props match {
    case propsK(d) => d.toLongOption
    case _ => None
  }

  /** A transformed tuple: (cache, k, a, v, t, seq). */
  final case class Tuple(cache: String, k: Long, a: String, v: Long,
                         t: Long, seq: Long)

  def tsUs(e: Event): Long = e.tsNs / 1000L

  /** The default rules (`Config.rules`) applied to one event. */
  def transform(e: Event): Seq[Tuple] = objOf(e.props) match {
    case None => Nil
    case Some(o) =>
      val s = e.user
      val t = tsUs(e)
      def tup(c: String, k: Long, v: Long, a: String = null) =
        Tuple(c, k, a, v, t, e.id)
      e.kind match {
        case "signup" => Seq(tup("signup-obj-user", o, s),
          tup("signup-user-obj", s, o))
        case "view" => Seq(tup("view-user-obj", s, o))
        case "purchase" => Seq(tup("buy-obj-user", o, s),
          tup("buy-user-obj", s, o),
          tup("interactions-user-obj", s, o, "buy"))
        case "error" => Seq(tup("interactions-user-obj", s, o, "err"))
        case _ => Nil
      }
  }

  // ---- count state (ingest) ----------------------------------------

  final case class Key(s: Long, a: String, o: Long)
  type Counts = Map[Key, (Long, Long)] // key -> (cnt, last_t)

  val CountCache = "interactions-user-obj"

  def countDelta(evs: Array[Event]): Counts =
    evs.iterator.flatMap(transform).filter(_.cache == CountCache)
      .foldLeft(Map.empty[Key, (Long, Long)]) { (m, u) =>
        val k = Key(u.k, u.a, u.v)
        val (c, t) = m.getOrElse(k, (0L, Long.MinValue))
        m.updated(k, (c + 1, math.max(t, u.t)))
      }

  def merge(state: Counts, delta: Counts): Counts =
    delta.foldLeft(state) { case (m, (k, (c, t))) =>
      val (c0, t0) = m.getOrElse(k, (0L, Long.MinValue))
      m.updated(k, (c0 + c, math.max(t0, t)))
    }

  /** Published state after each round, and which rounds compact:
    * `BucketedSnapshotCacheSink` appends a delta while the pending rows
    * stay below max(1, floor(compactFrac * base rows)), else folds them
    * all into the base.
    */
  def schedule(rounds: Seq[Array[Event]],
               compactFrac: Double): (Seq[Counts], Seq[Boolean]) = {
    var state: Counts = Map.empty
    var base = 0L
    var pending = 0L
    val out = rounds.zipWithIndex.map { case (evs, i) =>
      val delta = countDelta(evs)
      state = merge(state, delta)
      val compacted =
        if (i == 0) { base = state.size.toLong; false }
        else {
          pending += delta.size
          if (pending < math.max(1L, (compactFrac * base).toLong)) false
          else { base = state.size.toLong; pending = 0; true }
        }
      (state, compacted)
    }
    (out.map(_._1), out.map(_._2))
  }

  def getCount(st: Counts, k: Key): (Long, Long, Option[Long]) =
    st.get(k).map { case (c, t) => (k.o, c, Some(t)) }
      .getOrElse((k.o, 0L, None))

  /** `countsForSubjAction(s, actions*)`: per object, summed counts and
    * the latest time, ordered by object.
    */
  def slice(st: Counts, s: Long,
            actions: Set[String]): Seq[(Long, Long, Long)] =
    st.toSeq.collect { case (k, v) if k.s == s && actions(k.a) => k.o -> v }
      .groupBy(_._1).toSeq.map { case (o, vs) =>
        (o, vs.map(_._2._1).sum, vs.map(_._2._2).max)
      }.sortBy(_._1)

  def countRow(k: Key, v: (Long, Long)): String =
    s"$CountCache|${k.s}|${k.a}|${k.o}|${v._1}|${v._2}"

  def countsDigest(st: Counts): String =
    digest(st.iterator.map { case (k, v) => countRow(k, v) })

  // ---- batch pipeline ----------------------------------------------

  private def n(x: Any): String = if (x == null) "null" else x.toString

  def pipelineRow(cache: Any, k: Any, a: Any, v: Any, t: Any, cnt: Any,
                  rn: Any): String =
    Seq(cache, k, a, v, t, cnt, rn).map(n).mkString("|")

  /** All 7 caches of `Pipeline.defaultConfigText` in the normalized
    * (cache, k, a, v, t, cnt, rn) schema.
    */
  def pipelineRows(evs: Array[Event], lastN: Int = 20): Seq[String] = {
    val xf = evs.toSeq.flatMap(transform)
    val assoc = Set("signup-obj-user", "buy-obj-user")
    val lastn = Set("signup-user-obj", "view-user-obj", "buy-user-obj")
    val byKey = xf.groupBy(u => (u.cache, u.k))
    val assocRows = byKey.collect { case ((c, k), us) if assoc(c) =>
      val m = us.maxBy(u => (u.t, u.seq, u.v))
      pipelineRow(c, k, null, m.v, m.t, null, null)
    }
    val lastnRows = byKey.toSeq.collect { case ((c, k), us) if lastn(c) =>
      us.sortBy(u => (-u.t, -u.seq)).take(lastN).zipWithIndex.map {
        case (u, i) => pipelineRow(c, k, null, u.v, u.t, null, i + 1L)
      }
    }.flatten
    val countRows = countDelta(evs).map { case (k, (c, t)) =>
      pipelineRow(CountCache, k.s, k.a, k.o, t, c, null)
    }
    val keycountRows = xf.groupBy(_.k).map { case (k, us) =>
      pipelineRow("subject-counts", k, null, null, null, us.size.toLong, null)
    }
    (assocRows ++ lastnRows ++ countRows ++ keycountRows).toSeq
  }

  /** `sortedVariantsFrom`: per axis, the ascending rank over
    * (k1, k2, s, a, o) and its mirror N + 1 - rank.
    */
  def sortedVariantRows(st: Counts): Seq[String] = {
    val rows = st.toSeq
    val axes = Seq[(String, String, ((Key, (Long, Long))) => (Long, Long))](
      ("time_asc", "time_desc", r => (r._2._2, 0L)),
      ("count_asc", "count_desc", r => (r._2._1, 0L)),
      ("count_time_asc", "count_time_desc", r => (r._2._1, r._2._2)))
    val total = rows.size.toLong
    axes.flatMap { case (asc, desc, key) =>
      rows.sortBy(r => (key(r), (r._1.s, r._1.a, r._1.o))).zipWithIndex
        .flatMap { case ((k, (c, t)), i) =>
          Seq(s"$asc|${i + 1}|${k.s}|${k.a}|${k.o}|$c|$t",
            s"$desc|${total - i}|${k.s}|${k.a}|${k.o}|$c|$t")
        }
    }
  }

  /** `topKPerSubjFrom(state, k)`: count desc, time desc, a, o. */
  def topKRows(st: Counts, k: Int): Seq[String] =
    st.toSeq.groupBy(_._1.s).toSeq.flatMap { case (_, rs) =>
      rs.sortBy { case (key, (c, t)) => (-c, -t, key.a, key.o) }.take(k)
        .zipWithIndex.map { case ((key, (c, t)), i) =>
          s"${key.s}|${key.a}|${key.o}|$c|$t|${i + 1}"
        }
    }

  /** `countsForSubjActionFrom(state, actions)` over all subjects. */
  def subjActionRows(st: Counts, actions: Set[String]): Seq[String] =
    st.toSeq.filter(r => actions(r._1.a)).groupBy(r => (r._1.s, r._1.o))
      .toSeq.map { case ((s, o), rs) =>
        s"$s|$o|${rs.map(_._2._1).sum}|${rs.map(_._2._2).max}"
      }

  // ---- corpus clean ------------------------------------------------

  val Stopwords = Set("the", "a", "and", "of", "to", "in", "is")
  def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** `TextAnalysis.stats`' (n_tokens, quality) for one text. */
  def quality(text: String): (Long, Double) = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val nt = toks.length.toLong
    val stopR = q6(toks.count(Stopwords).toDouble / nt.toDouble)
    val punct = text.count(".,;:!?".contains(_)).toLong
    val punctR = q6(punct.toDouble / text.length.toDouble)
    (nt, q6(math.min(1.0, nt.toDouble / 50.0) * (1.0 - stopR * 0.5) *
      (1.0 - punctR)))
  }

  final case class Clean(
      keep: Map[Long, (Long, Double)], // canonical, quality-passing docs
      family: Map[Long, Long], // doc -> id of the planted source it copies
      nearCopies: Set[Long])

  def clean(docs: Array[Doc], roles: Map[Long, Role]): Clean = {
    val canonical = docs.groupBy(_.text).values.map(_.map(_.id).min).toSet
    val keep = docs.iterator.filter(d => canonical(d.id)).map { d =>
      d.id -> quality(d.text)
    }.filter { case (_, (nt, q)) => q >= 0.5 && nt >= 30 }.toMap
    val family = roles.map {
      case (id, ExactCopy(of)) => id -> of
      case (id, NearCopy(head, _)) => id -> head
      case (id, _) => id -> id
    }
    val near = roles.collect { case (id, NearCopy(_, _)) => id }.toSet
    Clean(keep, family, near)
  }

  /** Consecutive chain members: the pairs a near-dup finder must find. */
  def plantedPairs(roles: Map[Long, Role]): Set[(Long, Long)] = {
    val byHead = roles.toSeq.collect { case (id, NearCopy(h, p)) => h -> (p, id) }
      .groupBy(_._1)
    byHead.toSeq.flatMap { case (h, ms) =>
      val ids = h +: ms.map(_._2).sortBy(_._1).map(_._2)
      ids.zip(ids.tail)
    }.toSet
  }

  // ---- digests -----------------------------------------------------

  /** Order-free digest: SHA-256 over the sorted lines. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toArray.sorted.foreach { l =>
      md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
