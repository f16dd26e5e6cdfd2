package graft.core

/** Releases for caches whose lifetime must outlast the query builder
  * that made them: a builder returns a LAZY DataFrame, so its caches
  * cannot be dropped inside it without defeating them. Instead every
  * cache-creating site first calls [[releaseAll]] to drop the PREVIOUS
  * build's registrations, bounding live block storage to one query's
  * worth for a user composing ops in a long session. Contract:
  * materialize a result before building the next query of the same
  * owner, or call [[releaseAll]] when done. One instance per query
  * object, so one object's build never drops another's caches.
  */
final class CacheReleases {
  private val live = new scala.collection.mutable.ArrayBuffer[() => Unit]
  def register(r: () => Unit): Unit = synchronized { live += r }
  def releaseAll(): Unit = synchronized {
    live.foreach(r => r())
    live.clear()
  }
}
