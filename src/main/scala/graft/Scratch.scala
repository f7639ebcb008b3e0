package graft

import java.nio.file.{Files, LinkOption, Paths}

/** The one owner of scratch directories and session caches.
  *
  * Every scratch dir lives under [[root]]. A per-call dir comes from
  * [[withTempDir]] and is gone when the call returns or throws. A
  * value or store that a session builds once and reuses comes from
  * [[session]]; [[clearSession]] drops every such value and deletes
  * every session dir, so each cold pass (and each process exit)
  * starts from nothing left over. */
object Scratch {

  /** `<working dir>/target/tmp` — a constant, not an option. */
  val root: String = Paths.get("target", "tmp").toAbsolutePath.toString

  /** The full-path stem of a data dir: two dirs that share a basename
    * (e.g. two `sf0.1` copies) never share a scratch dir. */
  def stem(dataDir: String): String = dataDir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Recursive delete. Best-effort and null-safe (a listing can race
    * or fail); a symlink is deleted itself, never followed. */
  def rmTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (Files.isDirectory(f.toPath, LinkOption.NOFOLLOW_LINKS)) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(k => rmTree(k.getPath))
    }
    f.delete(): Unit
  }

  /** A fresh, not yet existing path `root/<tag>_<unique>`. The caller
    * owns its deletion: [[withTempDir]] for a per-call dir, or the
    * caller of a tool that hands the dir back. */
  def freshDir(tag: String): String =
    s"$root/${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Run `f` on a [[freshDir]] and delete it afterwards, also when `f`
    * throws. Results `f` returns lazily must be materialized first. */
  def withTempDir[T](tag: String)(f: String => T): T = {
    val dir = freshDir(tag)
    try f(dir) finally rmTree(dir)
  }

  /** One entry of the session registry: its dir and its value, built
    * at most once (the lazy val's monitor makes concurrent callers of
    * the same key wait; builds of different keys, even nested ones,
    * do not block each other). */
  private final class Entry(val dir: String, build: String => Any) {
    lazy val value: Any = { rmTree(dir); build(dir) }
  }
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Entry]()

  /** The session's value for `(tag, dataDir)`. On first use this
    * deletes any leftover `root/<tag>_<stem(dataDir)>` and runs
    * `build` on that path; later calls return the same value until
    * [[clearSession]]. A store keeps all its dirs under the one path
    * it is given; an in-memory value ignores the path and creates no
    * dir. A failed build leaves no entry and no dir behind. */
  def session[V](tag: String, dataDir: String)(build: String => V): V = {
    val key = (tag, dataDir)
    val e = entries.computeIfAbsent(key,
      _ => new Entry(s"$root/${tag}_${stem(dataDir)}", build))
    try e.value.asInstanceOf[V]
    catch { case t: Throwable =>
      if (entries.remove(key, e)) rmTree(e.dir)
      throw t
    }
  }

  /** Drop every session value and delete every session dir — what the
    * timing mains call before each cold pass and every main calls
    * before it stops its Spark session. */
  def clearSession(): Unit = {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.toSeq.foreach { k =>
      Option(entries.remove(k)).foreach(e => rmTree(e.dir))
    }
  }
}
