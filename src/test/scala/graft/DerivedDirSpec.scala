package graft

import java.nio.file.{Files, Path, Paths}

import graft.sources.{Interleave, SnapshotSink}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Persisted derived tables live under `java.io.tmpdir`, keyed by tag, corpus and
 * format version ([[SparkEntry.derivedDir]]). Building a table deletes that tag's
 * and corpus's directories of other format versions — copies no build of the
 * current version reads — and nothing else.
 */
class DerivedDirSpec extends AnyFunSuite {

  test("a table's superseded format versions are removed; other tables stay") {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    // a corpus of its own, so no real table's directories are touched
    val corpus = tmp.resolve("graft-derivedspec-corpus")
    SnapshotSink.deleteRecursively(corpus)
    Files.createDirectories(corpus)
    Files.writeString(corpus.resolve("documents.parquet"), "fingerprinted, not read")
    val other = tmp.resolve("graft-derivedspec-other")
    SnapshotSink.deleteRecursively(other)
    Files.createDirectories(other)
    Files.writeString(other.resolve("documents.parquet"), "another corpus")

    def key(dir: Path) = dir.toString.replaceAll("[^a-z0-9.]", "-")
    def fp(dir: Path) = Interleave.sourceFingerprint(dir.resolve("documents.parquet"))
    def plant(name: String): Path = {
      val p = tmp.resolve(name)
      SnapshotSink.deleteRecursively(p)
      Files.createDirectories(p.resolve("data"))
      p
    }
    val stale = plant(s"graft-sig-${key(corpus)}-v2-${fp(corpus)}")
    val staleOlder = plant(s"graft-sig-${key(corpus)}-v1-${fp(corpus)}")
    val otherTag = plant(s"graft-sigbase-${key(corpus)}-v2-${fp(corpus)}")
    val otherCorpus = plant(s"graft-sig-${key(other)}-v2-${fp(other)}")
    val current = plant(s"graft-sig-${key(corpus)}-v3-${fp(corpus)}")

    val dir = SparkEntry.derivedDir(corpus.toString, "sig", 3)
    assert(Paths.get(dir) === current)
    assert(!Files.exists(stale) && !Files.exists(staleOlder))
    assert(Files.isDirectory(current) && Files.isDirectory(otherTag) &&
      Files.isDirectory(otherCorpus))

    Seq(otherTag, otherCorpus, current, corpus, other)
      .foreach(SnapshotSink.deleteRecursively)
  }
}
