package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystemException, Files, StandardCopyOption}

import org.apache.commons.io.FileUtils

/** The one rule for every artifact graft writes once and then reuses
  * (scratch layouts, trained indexes, stream copies, bench corpora).
  * The reference keeps no state between runs (main.c:96-108 reads the
  * input, main.c:172-174 prints the counts); scratch artifacts are the
  * only place one run reads what another left behind, so a partial or
  * stale one would change a result silently. Hence:
  *   - an artifact's path is `<root>/<name>_<key>`, `key` a [[sig]] of
  *     its inputs, so changed inputs (regenerated testdata) get a new
  *     path, never a stale copy;
  *   - it is written into a hidden temp sibling and published by one
  *     atomic rename, so a killed or failed write leaves nothing at the
  *     final path and the next call rebuilds it;
  *   - publishing deletes the siblings of the same name with another
  *     key, together with the artifacts derived from them
  *     (`<name>_<key>_<suffix>`, see [[derived]]).
  * Two lifetimes: [[shared]] artifacts outlive the JVM and are reused by
  * every later one (corpora, stream copies); [[jvm]] artifacts (whatever
  * a registry query lays out or trains) live in a per-JVM root, so a
  * rebuilt engine never serves an index older code trained. State a
  * query changes between its own runs (a stream checkpoint and sink, a
  * bucketed table) is not an artifact: it lives directly in [[jvm]],
  * without [[once]], so its absolute paths never outlive it. A shutdown
  * hook removes that root; a JVM killed before its hook ran leaves it
  * behind, and the next JVM sweeps every root, and every temp sibling,
  * whose pid is no longer alive.
  */
object Scratch {
  private val pid = ProcessHandle.current().pid()
  private val temps = new java.util.concurrent.atomic.AtomicLong
  private val JvmRoot = "jvm-(\\d{1,18})".r
  private val Temp = "\\..*\\.tmp-(\\d{1,18})-\\d+".r

  /** Root of the artifacts every JVM shares. */
  val shared: File = new File("target/scratch")
  sweepDead(shared)

  /** This JVM's root, removed when the JVM exits. */
  lazy val jvm: File = {
    val root = new File(shared, s"jvm-$pid")
    sys.addShutdownHook(FileUtils.deleteQuietly(root))
    root
  }

  /** 16-hex fingerprint of `inputs`, in order: a `java.io.File`
    * contributes every file under it (path relative to it, size,
    * mtime), recursively; any other value its string. */
  def sig(inputs: Any*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(rel: String, f: File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
          .foreach(c => walk(s"$rel/${c.getName}", c))
      else md.update(s"$rel:${f.length}:${f.lastModified}\n".getBytes(UTF_8))
    inputs.zipWithIndex.foreach {
      case (f: File, i) => md.update(s"#$i\n".getBytes(UTF_8)); walk("", f)
      case (v, i) => md.update(s"#$i=$v\n".getBytes(UTF_8))
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** `<root>/<name>_<key>`, filled by `write` (given a path that does
    * not exist yet) only when absent. */
  def once(name: String, key: String, root: File = shared)(
      write: String => Unit): String = {
    require(key.matches("[0-9a-f]{16}"), s"scratch key is not a sig: $key")
    val dst = new File(root, s"${name}_$key")
    if (publish(dst, write)) {
      val sibling = (java.util.regex.Pattern.quote(name) + "_([0-9a-f]{16})(_.*)?").r
      Option(root.listFiles()).toSeq.flatten.foreach { f =>
        f.getName match {
          case sibling(k, _) if k != key => FileUtils.deleteQuietly(f)
          case _ =>
        }
      }
    }
    dst.getPath
  }

  /** `<base>_<suffix>`: an artifact computed from the artifact at
    * `base`, written once like [[once]]'s and deleted with it. */
  def derived(base: String, suffix: String)(write: String => Unit): String = {
    val dst = new File(s"${base}_$suffix")
    publish(dst, write)
    dst.getPath
  }

  /** Writes `dst` through a temp sibling unless it exists; true when this
    * call published it. A directory moves by atomic rename, which fails
    * if another caller published first; a file is hard-linked, which
    * never replaces one. Either way the temp is gone afterwards. */
  private def publish(dst: File, write: String => Unit): Boolean =
    !dst.exists() && {
      dst.getParentFile.mkdirs()
      val tmp = new File(dst.getParentFile,
        s".${dst.getName}.tmp-$pid-${temps.incrementAndGet()}")
      try {
        write(tmp.getPath)
        require(tmp.exists(), s"scratch write for $dst left nothing")
        if (tmp.isDirectory)
          Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        else Files.createLink(dst.toPath, tmp.toPath)
        true
      } catch {
        case _: FileSystemException if dst.exists() => false // lost the race
      } finally FileUtils.deleteQuietly(tmp)
    }

  /** Deletes the per-JVM roots and temp siblings under `root` whose
    * JVM is no longer alive. */
  private[graft] def sweepDead(root: File): Unit =
    Option(root.listFiles()).toSeq.flatten.foreach { f =>
      f.getName match {
        case JvmRoot(p) if !alive(p.toLong) => FileUtils.deleteQuietly(f)
        case Temp(p) if !alive(p.toLong) => FileUtils.deleteQuietly(f)
        case _ =>
      }
    }

  private def alive(p: Long): Boolean = ProcessHandle.of(p).isPresent
}
