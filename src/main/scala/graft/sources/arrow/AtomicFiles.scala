package graft.sources.arrow

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, FileSystemException, Files,
  Path, StandardCopyOption}

/** How a file in a table directory becomes visible — the one publish
  * path of the storage layer. Content is written in full to a temp
  * next to the target, named `<target>.<uuid>.inprogress` (unique per
  * call, so concurrent writers of one target never share a temp;
  * readers skip the suffix and vacuum sweeps crashed leftovers), then
  * published in one step:
  *
  *  - [[claim]] hard-links the temp onto the target and fails when the
  *    target exists: exactly one of several racers wins, and the
  *    target appears only with its full content. The commit log's
  *    epoch manifests and the schema generations are claimed.
  *  - [[replace]] renames the temp over the target: last writer wins,
  *    readers see the old content or the new, never a torn file.
  *
  * Either way a crash leaves the target as it was plus at most one
  * temp. */
object AtomicFiles {
  /** A fresh temp path beside `target`, unique per call. */
  def tempFor(target: Path): Path =
    target.resolveSibling(s"${target.getFileName}." +
      java.util.UUID.randomUUID().toString.take(8) + ".inprogress")

  /** Publish `bytes` at `target` only if no file is there yet; false
    * when a racer (or an earlier run) holds it. */
  def claim(target: Path, bytes: Array[Byte]): Boolean =
    viaTemp(target, bytes)(publishNew(_, target))

  def claim(target: Path, lines: Seq[String]): Boolean =
    claim(target, text(lines))

  /** Publish `bytes` at `target`, replacing what is there. */
  def replace(target: Path, bytes: Array[Byte]): Unit =
    viaTemp(target, bytes)(publish(_, target))

  def replace(target: Path, lines: Seq[String]): Unit =
    replace(target, text(lines))

  /** [[replace]] for a writer that streamed into its own temp (from
    * [[tempFor]]): rename `tmp` over `target`. */
  def publish(tmp: Path, target: Path): Unit = {
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def viaTemp[A](target: Path, bytes: Array[Byte])(
      step: Path => A): A = {
    val tmp = tempFor(target)
    try { Files.write(tmp, bytes); step(tmp) }
    finally { Files.deleteIfExists(tmp); () }
  }

  private def publishNew(tmp: Path, target: Path): Boolean =
    try { Files.createLink(target, tmp); true }
    catch {
      case _: FileAlreadyExistsException => false
      // some filesystems surface EEXIST as a generic FS error; target
      // present = a racer's claim landed = the ordinary lost claim
      case _: FileSystemException if Files.exists(target) => false
      case e @ (_: UnsupportedOperationException | _: FileSystemException) =>
        // hard links are the claim primitive; a filesystem without
        // them (exFAT, some NFS/SMB mounts) must fail with guidance,
        // not a bare IO error deep in a commit
        throw new UnsupportedOperationException(
          s"arrow: cannot claim $target — the filesystem refused " +
            "hard-link creation, which table commits and schema " +
            "evolution require. Host the table on a POSIX filesystem " +
            s"(ext4/xfs/tmpfs/HDFS-like). Cause: $e", e)
    }

  /** `lines` as the bytes `Files.write(path, lines)` would store. */
  private def text(lines: Seq[String]): Array[Byte] =
    lines.map(_ + System.lineSeparator).mkString
      .getBytes(StandardCharsets.UTF_8)
}
