package graft

import java.io.IOException
import java.nio.file.Path

import graft.sources.{CommitIo, PosixCommitIo}

/** Fault injection at the commit point of a rewrite: [[atManifest]] publishes every
  * directory and state record through [[PosixCommitIo]] but throws [[Injected]]
  * on each manifest-version publish — after the rewrite's new bucket directories
  * are published and before any ref can move. */
object PublishFault {
  final class Injected extends IOException("injected manifest publish failure")

  val atManifest: CommitIo = new CommitIo {
    override def publishDir(src: Path, dst: Path): Unit = PosixCommitIo.publishDir(src, dst)
    override def publishFile(tmp: Path, dst: Path): Unit =
      if (dst.getFileName.toString.startsWith("manifest-v")) throw new Injected
      else PosixCommitIo.publishFile(tmp, dst)
  }
}
