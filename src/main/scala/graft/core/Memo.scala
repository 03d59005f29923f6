package graft.core

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import scala.util.control.NonFatal

/** The one registry of session-shared intermediates: the transformed
  * tuple relation, the signature store's shingles, bands and tiers,
  * trained centroids, codebooks and weights, graph projections, layout
  * probes and streaming harness views. At 100 TB each of these is the
  * table a deployment materializes once between pipeline stages; here
  * it is computed once per (session, scope, id) by whichever caller
  * asks first and reused by the rest.
  *
  * - The scope is the corpus dir, normalized once here, so equivalent
  *   spellings (trailing slash, dot segments, relative vs absolute)
  *   hit one entry. `session` scopes what belongs to no one corpus.
  * - The id is any value with structural equality, conventionally
  *   led by a family name. One call site owns each family, and so
  *   fixes the type of its value.
  *
  * At most one build per key, even under concurrent callers: the
  * first caller claims the key by inserting its own future with
  * `putIfAbsent`, and every later or concurrent caller waits on that
  * future. The build runs OUTSIDE any map lock, because builds nest
  * (bands -> shingles -> the tableParallel probe, verified pairs ->
  * candidates -> bands), and a nested `computeIfAbsent` on one map
  * throws "Recursive update". A failed build removes its entry, so the
  * next caller retries; callers already waiting on it see the failure.
  * Entries of stopped sessions are swept on each miss.
  */
object Memo {

  /** Scope of the entries that belong to the session rather than to a
    * corpus (plan-keyed decisions, streaming harness views): only
    * `releaseAll` drops them. It carries a scheme, so no normalized
    * dir can spell it.
    */
  val session: String = "session:"

  /** A temp view registered by a memo build. Its release drops the
    * view, which frees the rows a memory sink pins in driver heap.
    */
  final case class TempView(name: String)

  private final case class Key(spark: SparkSession, scope: String, id: Any)

  private val entries = new ConcurrentHashMap[Key, CompletableFuture[Any]]()

  def apply[T](spark: SparkSession, scope: String, id: Any)(build: => T): T = {
    val k = Key(spark, norm(scope), id)
    val hit = entries.get(k) // a hit allocates nothing
    if (hit != null) await(hit)
    else {
      val mine = new CompletableFuture[Any]()
      val prev = entries.putIfAbsent(k, mine)
      if (prev != null) await(prev)
      else {
        entries.keySet.removeIf(_.spark.sparkContext.isStopped)
        try {
          val built = build
          mine.complete(built)
          built
        } catch { case t: Throwable =>
          entries.remove(k, mine)
          mine.completeExceptionally(t)
          throw t
        }
      }
    }
  }

  /** Drop every entry of `spark` for one corpus - call when done with
    * it, or after rewriting its files in-session.
    */
  def release(spark: SparkSession, scope: String): Unit = {
    val s = norm(scope)
    drop(k => (k.spark eq spark) && k.scope == s)
  }

  /** Drop every entry of `spark`: between bench passes and at exit. */
  def releaseAll(spark: SparkSession): Unit = drop(_.spark eq spark)

  /** (scope, id) of every entry `spark` holds, in-flight builds too. */
  private[graft] def ids(spark: SparkSession): Seq[(String, Any)] = {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.toSeq.filter(_.spark eq spark)
      .map(k => (k.scope, k.id))
  }

  private def await[T](f: CompletableFuture[Any]): T =
    try f.join().asInstanceOf[T]
    catch { case e: CompletionException => throw e.getCause }

  /** Releasing is a rule on the value, not a per-family choice: a
    * checkpointed relation frees its blocks, a persisted one leaves the
    * cache, a harness view is dropped, anything else is driver-side
    * and simply forgotten. An in-flight build is left to its builder:
    * only a completed entry has a value to release.
    */
  private def drop(p: Key => Boolean): Unit = {
    val it = entries.entrySet.iterator()
    while (it.hasNext) {
      val e = it.next()
      val (k, f) = (e.getKey, e.getValue)
      if (p(k) && entries.remove(k, f) && f.isDone &&
          !f.isCompletedExceptionally) f.join() match {
        case df: DataFrame @unchecked if GraftBridge.isMaterializedLeaf(df) =>
          GraftBridge.unpersistMaterialized(df)
        case df: DataFrame @unchecked => df.unpersist(blocking = false)
        case TempView(name) => k.spark.catalog.dropTempView(name)
        case _ => ()
      }
    }
  }

  /** Pure path arithmetic, no filesystem access; URI-schemed scopes
    * stay as spelled.
    */
  private def norm(scope: String): String =
    if (scope.contains(":")) scope
    else
      try java.nio.file.Paths.get(scope).toAbsolutePath.normalize.toString
      catch { case NonFatal(_) => scope }
}
