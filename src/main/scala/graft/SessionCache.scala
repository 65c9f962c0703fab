package graft

import java.util.concurrent.atomic.AtomicLong

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession

/** The one memo type for data derived from files (analyzed scans,
  * index models, materialized pair graphs, temp stores). Each cache
  * names the directory its key was derived from (`dirOf`) and
  * registers itself with the companion's registry, so one
  * [[Tables.invalidate]] call drops everything derived from a
  * rewritten directory — the REFRESH/REINDEX catalog rule.
  *
  * Entries are either session-scoped (`getOrElseUpdate(spark, key)`:
  * they die with their SparkContext, since checkpointed frames are
  * bound to it) or JVM-wide (`getOrElseUpdate(key)`: plain driver
  * values such as models and store markers, which a fresh
  * `newSession()` must still hit). The map is access-ordered and
  * hard-bounded, so a long-lived driver churning through sessions or
  * stores cannot grow it forever, and a hit keeps an entry young.
  *
  * A memo over a versioned store ([[graft.sources.Versioned.memo]])
  * also carries the store's live version stamp, so a publish by any
  * writer, in this JVM or another, needs no invalidate. Concurrent
  * misses on one key run one build (the others wait and count as
  * hits); a build that throws leaves no entry.
  *
  * Four removal paths, with DIFFERENT cleanup semantics:
  *
  *  - invalidation (the data the value points at was rewritten):
  *    values go to `onEvict` — for checkpoint-backed DataFrames that
  *    unpersists the pinned blocks immediately, for temp stores it
  *    deletes the files. Outstanding handles were already meaningless
  *    (they referenced the old data).
  *  - a new stamp: the superseded entry is dropped as on overflow.
  *  - overflow (the cache reached `maxEntries`): the entries used
  *    longest ago are dropped by reference only, WITHOUT `onEvict` —
  *    a caller may still hold the returned value, and a
  *    localCheckpoint-backed frame cannot be recomputed once its
  *    blocks are unpersisted. Dropping the reference lets Spark's
  *    ContextCleaner reclaim the blocks (and TempStores' shutdown hook
  *    the files) when the last handle goes.
  *  - a stopped session: its entries are dropped without `onEvict`;
  *    the SparkContext, and every block it held, is already gone.
  */
final class SessionCache[K, V](maxEntries: Int, dirOf: K => String,
                               onEvict: V => Unit = (_: V) => ()) {
  import SessionCache.Entry

  // owning session, None for a JVM-wide entry
  private val m = scala.collection.concurrent.TrieMap.empty[(Option[SparkSession], K), Entry[V]]
  SessionCache.registry.add(this)

  /** session entry; valid for one `stamp` of the data under its key
    * (a lookup with another stamp rebuilds and replaces it) */
  def getOrElseUpdate(spark: SparkSession, key: K, stamp: Any = ())(build: => V): V =
    lookup((Some(spark), key), stamp, build)

  /** JVM-wide entry: shared by every session of the driver */
  def getOrElseUpdate(key: K)(build: => V): V = lookup((None, key), (), build)

  private def lookup(k: (Option[SparkSession], K), stamp: Any, build: => V): V = {
    lazy val fresh = new Entry(stamp, build, SessionCache.clock.incrementAndGet())
    @tailrec def claim(): Entry[V] = m.get(k) match {
      case Some(e) if e.stamp == stamp =>
        SessionCache.hits.incrementAndGet()
        e.age = SessionCache.clock.incrementAndGet()
        e
      case Some(e) =>
        if (!m.replace(k, e, fresh)) claim()
        else {
          SessionCache.evictions.incrementAndGet()
          SessionCache.misses.incrementAndGet()
          fresh
        }
      case None =>
        m.filterInPlace { (k, _) =>
          val live = k._1.forall(!_.sparkContext.isStopped)
          if (!live) SessionCache.evictions.incrementAndGet()
          live
        }
        if (m.size >= maxEntries)
          m.toSeq.sortBy(_._2.age).dropRight(maxEntries / 2).foreach {
            case (k, _) => if (m.remove(k).isDefined) SessionCache.evictions.incrementAndGet()
          }
        if (m.putIfAbsent(k, fresh).isDefined) claim()
        else { SessionCache.misses.incrementAndGet(); fresh }
    }
    val e = claim()
    try e.value catch { case t: Throwable => m.remove(k, e); throw t }
  }

  /** drop the entries derived from a dir overlapping `prefix`,
    * handing their values to `onEvict` ([[Tables.invalidate]]) */
  private def invalidateUnder(prefix: String): Unit =
    m.toSeq.foreach { case (k, e) =>
      if (SessionCache.overlaps(dirOf(k._2), prefix) && m.remove(k).isDefined) {
        SessionCache.evictions.incrementAndGet()
        // best-effort: invalidation must not fail the caller. An entry
        // still building (a build may rewrite its own dir) is dropped
        // as on overflow
        if (e.built) try onEvict(e.value) catch { case _: Throwable => () }
      }
    }

  private def dirs: Iterable[String] = m.keys.map(k => dirOf(k._2))

  /** the values built and held now, over every session */
  private[graft] def values: Seq[V] = m.values.toSeq.flatMap(_.peek)
}

object SessionCache {
  /** the first `value` call builds; concurrent callers wait on it and
    * share its result, a failure included */
  private final class Entry[V](val stamp: Any, build: => V, @volatile var age: Long) {
    @volatile private[this] var result: scala.util.Try[V] = _
    def built: Boolean = result != null
    def peek: Option[V] = Option(result).flatMap(_.toOption)
    def value: V = {
      if (result == null) synchronized { if (result == null) result = scala.util.Try(build) }
      result.get
    }
  }

  private val clock = new AtomicLong()
  // process-wide, over every cache: lookups that found their entry
  // (or waited on its build), lookups that built it, and entries
  // removed for any reason (invalidation, a new stamp, overflow,
  // stopped session) — read by graft.obs.Trace
  private val hits = new AtomicLong()
  private val misses = new AtomicLong()
  private val evictions = new AtomicLong()

  /** (hits, misses, evictions) so far, summed over every cache */
  def memoCounts: (Long, Long, Long) = (hits.get(), misses.get(), evictions.get())
  private val registry = new java.util.concurrent.CopyOnWriteArrayList[SessionCache[_, _]]

  /** The invalidation rule: an entry derived from `dir` is stale when
    * the rewritten path is `dir` itself, lies under it, or contains
    * it. A plain string prefix, so `/a/bc` also drops on a rewrite of
    * `/a/b` — over-invalidation, the safe direction. An empty `dir`
    * overlaps every rewrite. */
  private[graft] def overlaps(dir: String, prefix: String): Boolean =
    dir.startsWith(prefix) || prefix.startsWith(dir)

  private[graft] def invalidateAll(prefix: String): Unit =
    registry.forEach(_.invalidateUnder(prefix))

  /** the source directory of every entry held by any cache */
  private[graft] def registeredDirs: Seq[String] = {
    val out = Seq.newBuilder[String]
    registry.forEach(c => out ++= c.dirs)
    out.result()
  }
}
