package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** The one stager for per-corpus, build-once artifacts: the IVF and
  * graph indexes and their delta segments, the dedup manifests and
  * label store, the BPE merge table, the q27/q29/q36 layouts and the
  * streaming landing directories. [[staged]] owns the whole decision,
  * and call sites declare only what they stage.
  *
  *  - Directory: `java.io.tmpdir/graft_<name>_<corpusToken(d)><suffix>`.
  *    The token is a 128-bit MD5 of the full corpus path
  *    ([[corpusToken]]).
  *  - Marker: `_src_meta` in that directory. Its payload is
  *    [[srcMeta]] of each source file, `|`-joined, which embeds the
  *    corpus path: a token collision cannot validate another corpus's
  *    marker.
  *  - Fresh: the payload is equal and every declared artifact exists.
  *    A marker alone is never proof of an artifact.
  *  - Stale: the marker is deleted, then the build runs under the job
  *    description `stage <name>`. It writes each artifact through
  *    [[Build.write]]: to a temp sibling, renamed into place, so a
  *    concurrent reader sees the old artifact or the new one, never a
  *    half-written one. A declared artifact the build did not write
  *    fails the call, naming it. The marker is written last, so a
  *    build that throws leaves none and the next call rebuilds.
  */
object StagePath {

  /** The artifact writer a stale [[staged]] call hands its build. */
  final class Build private[StagePath] (dir: Path, artifacts: Seq[String]) {
    private[StagePath] val written = scala.collection.mutable.Set.empty[String]

    /** Writes the declared artifact `name`: `f` produces it at the
      * given temp path (a file or a directory), which then replaces
      * the previous artifact. Returns the artifact's final path. */
    def write(name: String)(f: Path => Unit): Path = {
      require(artifacts.contains(name),
        s"undeclared artifact '$name' (declared: ${artifacts.mkString(", ")})")
      val dst = dir.resolve(name)
      atomicSwapDir(dst)(f)
      written += name
      dst
    }
  }

  /** Stages `artifacts` for corpus `d` unless they are fresh, and
    * returns the staging directory. `sources` are file names inside
    * `d` whose size and mtime, with `version`, key the marker. */
  def staged(s: SparkSession, name: String, d: String, sources: Seq[String],
      version: String, artifacts: Seq[String], suffix: String = "")(
      build: Build => Unit): Path = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${name}_${corpusToken(d)}$suffix")
    Files.createDirectories(dir)
    val marker = dir.resolve("_src_meta")
    val meta = sources.map(f => srcMeta(d, Paths.get(d, f), version)).mkString("|")
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == meta &&
      artifacts.forall(a => Files.exists(dir.resolve(a)))
    if (!fresh) {
      Files.deleteIfExists(marker)
      val b = new Build(dir, artifacts)
      withJobDescription(s, s"stage $name")(build(b))
      val missing = artifacts.filterNot(a => b.written(a) && Files.exists(dir.resolve(a)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"stage $name did not write ${missing.mkString(", ")} under $dir")
      Files.write(marker, meta.getBytes("UTF-8"))
    }
    dir
  }

  /** 32-hex-char MD5 of the corpus path — the per-corpus directory
    * token. MD5 is fine here: this is a partition key, not a security
    * boundary, and it matches the engines' shared md5() used elsewhere. */
  def corpusToken(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Replaces `dst` with what `write` produces at a temp sibling. The
    * previous artifact is renamed aside, not deleted, before the swap:
    * a crash between the two renames leaves no artifact behind the
    * (already deleted) marker, never a half-deleted one. POSIX cannot
    * atomically replace a non-empty directory, so the window is two
    * renames, not zero. */
  private def atomicSwapDir(dst: Path)(write: Path => Unit): Unit = {
    val tmp = dst.resolveSibling(dst.getFileName.toString + "_swap_tmp")
    val old = dst.resolveSibling(dst.getFileName.toString + "_swap_old")
    deleteRecursively(tmp)
    write(tmp)
    deleteRecursively(old)
    if (Files.exists(dst)) Files.move(dst, old)
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, dst)
    }
    deleteRecursively(old)
  }

  /** Deletes `p` and, if it is a directory, everything under it. */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** The freshness-marker payload for a staged artifact derived from
    * `src` (a file inside corpus `d`): size, mtime, the staging logic's
    * version token, and the corpus path itself. */
  def srcMeta(d: String, src: Path, version: String): String =
    s"${Files.size(src)}:" + Files.getLastModifiedTime(src).toMillis + s":$version:$d"
}
