package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

/**
 * The PUBLISH seam of the snapshot commit protocol (VERDICT r3 #5): how a fully
 * staged+verified bucket directory and a metadata file become visible. The protocol
 * around it (staging write with observed metrics -> footer row check -> publish ->
 * distributed hash -> manifest version + state record, [[SnapshotSink]]) is
 * storage-agnostic; only these two operations depend on what the underlying store
 * can do atomically.
 *
 * Nothing is ever replaced in place. Bucket directories are written once (a
 * rewrite lands at a fresh generation), and metadata files are immutable and
 * numbered, so [[publishFile]] is PUBLISH-IF-ABSENT: of two writers racing for one
 * number only one wins. Implementations:
 *
 *  - [[PosixCommitIo]] (default): atomic directory RENAME and a no-replace file
 *    link — correct on any POSIX filesystem.
 *
 *  - Object stores (S3 et al.) have NO atomic rename — a copy+delete "rename" can be
 *    observed half-done. The correct strategy there is Iceberg's: data files are
 *    written ONCE under unique names (never renamed; `publishDir` becomes a no-op
 *    because the staging location IS the final location, recorded in the manifest),
 *    and `publishFile` is a put-if-absent (conditional put). [[SnapshotSink]] already
 *    has the right shape for this: readers resolve data files THROUGH the manifest
 *    (`files` per bucket), and the state record naming HEAD's version is the only
 *    pointer that moves.
 */
trait CommitIo {
  /** Make a staged bucket DIRECTORY visible at its final path, which does not exist
    * yet: every commit lands at a fresh or cleared bucket id, so this never replaces
    * a directory. Must be atomic with respect to readers: they see the whole
    * directory or none of it. */
  def publishDir(src: Path, dst: Path): Unit

  /** Publish the fully-written temp file `tmp` at `dst` if `dst` does not exist yet;
    * throw [[java.nio.file.FileAlreadyExistsException]], leaving `dst` untouched, if
    * it does. Readers see the whole file or none of it. The caller removes `tmp`. */
  def publishFile(tmp: Path, dst: Path): Unit
}

/** POSIX filesystems: the reference's own durable-write pattern
  * (languages.py:174-175). `link(2)` fails instead of replacing an existing name,
  * which makes it the atomic no-replace form of that rename. */
object PosixCommitIo extends CommitIo {
  override def publishDir(src: Path, dst: Path): Unit =
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)

  override def publishFile(tmp: Path, dst: Path): Unit =
    Files.createLink(dst, tmp)
}
