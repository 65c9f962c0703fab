package graft.sources

/** Lifecycle for the lazily-built TEMP store directories behind the
  * `storeFor` memos (queries()-entry convenience — a real deployment
  * writes stores at ingest time to durable paths and never routes
  * through here). Each store cache registers its temp dirs so that
  *
  *  - an invalidated entry deletes its directory instead of
  *    orphaning a corpus-sized copy in /tmp (the r11 SigStore finding
  *    — the same pattern existed in every other store); an entry
  *    dropped on overflow keeps it, since a caller may still serve
  *    from it (graft.SessionCache's class doc), and
  *  - a JVM shutdown sweeps whatever is still tracked, bounding what
  *    repeated bench/test JVMs can accumulate.
  *
  * Best-effort by design: deletion failures are swallowed (a temp dir
  * that outlives the JVM is garbage, not corruption — every store
  * read path re-validates its own commit markers). */
private[graft] object TempStores {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook {
    dirs.forEach(d => delete(d))
  }: Unit

  /** a fresh tracked temp dir (name starting `prefix`), written by
    * `write`; returns it */
  def create(prefix: String)(write: String => Unit): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    dirs.add(dir)
    write(dir)
    dir
  }

  /** best-effort recursive delete + untrack — the invalidation callback */
  def delete(dir: String): Unit = {
    try {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val root = Paths.get(dir)
      if (Files.exists(root))
        Files.walk(root).iterator().asScala.toSeq.reverseIterator
          .foreach(p => Files.deleteIfExists(p): Unit)
    } catch { case _: Throwable => () }
    dirs.remove(dir): Unit
  }
}
