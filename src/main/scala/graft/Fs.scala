package graft

/** The one recursive-delete helper (previously four private copies had
  * started to drift): walk-reverse-delete, no-op on a missing path. */
object Fs {
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  def deleteRecursively(p: String): Unit =
    deleteRecursively(java.nio.file.Paths.get(p))

  /** Best-effort delete for cleanup chains: a failure (or a stop() that
    * already threw) must not short-circuit the remaining deletes. */
  def deleteQuietly(p: java.nio.file.Path): Unit =
    try deleteRecursively(p)
    catch { case scala.util.control.NonFatal(_) => () }

  def deleteQuietly(p: String): Unit =
    deleteQuietly(java.nio.file.Paths.get(p))

  /** The entries of directory `p`, in listing order. */
  def list(p: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(p)
    try ls.iterator().asScala.toList finally ls.close()
  }

  /** First 4 md5 bytes as 8 hex chars — the shared short-key digest
    * (artifact dir keys, warehouse lineage salts). */
  def md5Hex8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
}
