package graft

import java.io.IOException
import java.nio.file.Path

import graft.sources.{CommitIo, PosixCommitIo}

/** Fault injection at the commit point: [[atManifest]] publishes every directory
  * and state record through [[PosixCommitIo]] but throws [[Injected]] on each
  * manifest-version publish — after a rewrite's new bucket directories are
  * published and before any ref can move. [[atManifestNumber]] throws on one
  * manifest-version publish only: a crash between two waves of one run. */
object PublishFault {
  final class Injected extends IOException("injected manifest publish failure")

  val atManifest: CommitIo = atManifests(_ => true)

  def atManifestNumber(n: Int): CommitIo = atManifests(_ == n)

  private def atManifests(fails: Int => Boolean): CommitIo = new CommitIo {
    private var seen = 0
    override def publishDir(src: Path, dst: Path): Unit = PosixCommitIo.publishDir(src, dst)
    override def publishFile(tmp: Path, dst: Path): Unit = {
      if (dst.getFileName.toString.startsWith("manifest-v")) {
        seen += 1
        if (fails(seen)) throw new Injected
      }
      PosixCommitIo.publishFile(tmp, dst)
    }
  }
}
