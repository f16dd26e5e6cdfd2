package graft.core

import java.nio.file.{Files, Path, Paths}

/** Persistent staging for layouts an operator runs OVER (merge
  * targets, fragmented landing zones, multi-generation schema dirs,
  * year-partitioned facts, streaming replay chunks, synthesized scale
  * twins): [[Staging.ensure]] writes each layout once and reuses it
  * across queries and JVMs, so steady-state runs pay for the
  * OPERATOR, not for rebuilding its fixture. It is the one staging
  * cache in the engine; every staged dir follows its discipline:
  *
  *   - Key = md5 over the tag and each source's (path, size, mtime),
  *     so regenerated testdata at the same path restages instead of
  *     silently reusing a stale layout, and two inputs never share a
  *     dir.
  *   - The completion marker `_GRAFT_STAGED` (holding the sources'
  *     paths) is written LAST, after
  *     `write` returns: a JVM dying mid-staging (or a `write` that
  *     throws) leaves no marker, and the next caller deletes the
  *     partial dir and stages it again. A marked dir is reused
  *     without calling `write`.
  *
  * Callers may mutate the staged dir only if the mutation is
  * idempotent and derived from the SOURCE tables (q43/q47's dynamic
  * partition overwrite recomputes merged partitions from the source of
  * truth, so a re-run converges to the same bytes).
  */
object Staging {

  /** Scratch dirs that must disappear at JVM exit, deleted by ONE
    * shutdown hook over a registry (a hook per call site accumulated
    * hooks across repeated runs in a session, and `deleteOnExit` only
    * removes empty dirs). Deletion waits for exit because callers
    * return LAZY frames reading these dirs.
    */
  private val cleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Recursive delete that NEVER follows symlinks: `walkFileTree`
    * without FOLLOW_LINKS visits a symlink (even to a directory) as a
    * plain file, so only the LINK is unlinked — its target is
    * untouched. This is load-bearing: the streaming file source
    * symlinks the read-only source dataset into its scratch dir, and
    * a link-following recursive delete (scala.reflect.io.Directory
    * has no symlink guard) would delete the real data behind it.
    */
  def deleteTree(root: String): Unit = {
    import java.nio.file.{Files => F, _}
    import java.nio.file.attribute.BasicFileAttributes
    val p = Paths.get(root)
    if (F.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      F.walkFileTree(p, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          F.deleteIfExists(f); FileVisitResult.CONTINUE
        }
        override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
          F.deleteIfExists(d); FileVisitResult.CONTINUE
        }
      })
      ()
    }
  }

  private lazy val cleanupHookInstalled: Boolean = {
    sys.addShutdownHook(cleanupDirs.forEach(deleteTree(_)))
    true
  }
  def registerAtExit(dir: String): Unit = {
    require(cleanupHookInstalled)
    cleanupDirs.add(dir); ()
  }
  /** `createTempDirectory` + exit-time recursive deletion. */
  def tempAtExit(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    registerAtExit(dir)
    dir
  }

  /** A local file's stamp, `path:size:mtime`: what a cache keyed on a
    * file must change with (a directory is stamped by its own entry). */
  def stamp(path: String): String = {
    val f = Paths.get(path)
    s"$path:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}"
  }

  /** The staged dir for `tag` over `sources` (parquet files or dirs
    * the layout derives from), written by `write` into a fresh,
    * existing dir unless a completed one is already there. The marker
    * holds the sources' paths, so a restage deletes the dirs this tag
    * staged over the same paths at an older stamp, and those whose
    * marker is empty (written before markers held paths); dirs over
    * other paths (another scale factor) stay. */
  def ensure(tag: String, sources: String*)(write: String => Unit): String = {
    val ident = (tag +: sources.map(stamp)).mkString("\n")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val prefix = s"graft_stage_${tag}_"
    val dir: Path = tmp.resolve(prefix + key)
    val marker = dir.resolve("_GRAFT_STAGED")
    val paths = sources.mkString("\n")
    if (Files.exists(marker)) {
      // an empty marker predates the recorded paths: record them, so a
      // later restage can find this dir
      if (Files.size(marker) == 0) Files.write(marker, paths.getBytes("UTF-8"))
    } else {
      deleteTree(dir.toString)
      Option(tmp.toFile.listFiles()).toSeq.flatten.map(_.toPath).filter { d =>
        val n = d.getFileName.toString
        n.startsWith(prefix) && n.length == prefix.length + 16 && d != dir && {
          val m = d.resolve("_GRAFT_STAGED")
          Files.isRegularFile(m) && {
            val held = new String(Files.readAllBytes(m), "UTF-8")
            // an empty marker's sources are unknown: deleting its dir
            // costs at most one restage
            held == paths || held.isEmpty
          }
        }
      }.foreach(d => deleteTree(d.toString))
      Files.createDirectories(dir)
      write(dir.toString)
      Files.write(marker, paths.getBytes("UTF-8"))
    }
    dir.toString
  }
}
