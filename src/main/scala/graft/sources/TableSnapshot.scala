package graft.sources

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/**
 * Generic committed-TABLE form of the snapshot protocol (VERDICT r3 #4): per-document
 * derived tables — dedup signatures, term frequencies — written and manifested with
 * the SAME staged-write (metrics observed) -> footer-check -> atomic-publish ->
 * distributed-hash -> manifest-republish cycle as extraction output
 * ([[SnapshotSink]] internals, reused, with rows-only lineage metrics).
 *
 * Why this exists: the dedup pipeline materialized its signature table with
 * `localCheckpoint` — executor-local, non-replicated blocks that are correct on one
 * machine but turn an executor loss into a job failure at cluster scale, and that
 * leave the signatures outside the lineage story. Committing them here gives (a)
 * durability — a rerun SKIPS verified buckets and reads committed parquet instead of
 * recomputing md5-heavy signatures over the corpus, (b) the same two-tier
 * verification and invalidate->heal resume as extraction (one shared resume and wave
 * body, [[SnapshotSink.commitBuckets]]), (c) manifest lineage (row counts, per-file
 * hashes) for every derived table, and (d) a recorded schema that every read —
 * [[SnapshotSink.readCommitted]], at any ref — scans with.
 *
 * The input must carry a `bucket` column in [0, nBuckets) — callers derive it from a
 * HASH of the id (never `id % n`: a modulus-sampled input would populate only
 * gcd-compatible residues). STALENESS is the caller's contract: the output directory
 * must be keyed by the identity of the inputs (source fingerprint + algorithm
 * version), exactly like [[Interleave.materializedDocs]] — a reused directory over
 * changed inputs would serve stale rows with a perfectly valid manifest.
 */
object TableSnapshot {

  /** Commit (or resume) `df` into `outDir`; one wave per `waveSize` buckets — the
    * resume and wave body of [[SnapshotSink.run]], over a plain bucket filter.
    * The first commit records `nBuckets`; a different count is refused before any
    * Spark job. Returns the same report shape as the extraction sink. */
  def run(
      df: DataFrame,
      outDir: String,
      nBuckets: Int = SnapshotSink.DefaultBuckets,
      waveSize: Int = SnapshotSink.DefaultBuckets,
      deepVerify: Boolean = true,
      io: CommitIo = PosixCommitIo): SnapshotSink.SnapshotReport = {
    require(df.columns.contains("bucket"), "TableSnapshot input needs a `bucket` column")
    val out = Paths.get(outDir)
    recordLayout(out, df.schema, nBuckets)(SnapshotSink.readState(out))
    SnapshotSink.commitBuckets(df.sparkSession, out, nBuckets, waveSize, deepVerify, io)(
      wave => df.filter(col("bucket").isin(wave: _*)))
  }

  /**
   * TAKEDOWN CASCADE for derived tables: bucket-granular copy-on-write delete of
   * every row whose `idCol` is in `ids`, the [[SnapshotSink.deleteDocs]] analogue
   * for hash-bucketed committed tables (the same takedown body and the same one
   * rewrite path: one grouped match count, one commit wave, one manifest version,
   * none when nothing matches). A right-to-be-forgotten delete is not done when
   * the extraction snapshot is clean — the doc's MinHash bands / term rows live on
   * in committed derived tables; this rewrites exactly the buckets that can contain
   * the ids (routed by the SAME `pmod(hash(id), nBuckets)` the writers use,
   * computed by one tiny literal-Dataset job — no table scan) to a fresh
   * generation, and leaves untouched buckets' bytes untouched. The scan reads with
   * the recorded schema, so buckets committed under different schema versions
   * rewrite in one wave.
   *
   * Same heal caveat as extraction takedown: a later invalidate->resume re-derives
   * the bucket FROM ITS SOURCE — cascade order is source corpus first, derived
   * tables second (and fingerprint-keyed derived dirs of a superseded corpus should
   * be dropped wholesale, which their corpus-identity keying makes safe).
   *
   * Routes with the table's recorded bucket count, so no caller can route to a
   * count the table was not written with.
   */
  def deleteIds(
      spark: SparkSession,
      outDir: String,
      ids: Seq[Long],
      idCol: String = "doc_id",
      io: CommitIo = PosixCommitIo): SnapshotSink.DeleteReport = {
    require(ids.nonEmpty, "deleteIds needs at least one id")
    // the routing below hashes LONG ids; Murmur3 hashes Int and Long DIFFERENTLY,
    // so an INT-typed id column would route to the wrong buckets and this would
    // return a success-shaped DeleteReport(0, Nil) while the rows persist — refuse
    val out = Paths.get(outDir)
    val idType = tableSchema(out).find(_.name == idCol).map(_.dataType)
    require(idType.contains(LongType),
      s"deleteIds routes buckets via hash(BIGINT); committed `$idCol` is " +
        s"${idType.getOrElse("absent")} — pass ids in the column's own type family " +
        "(extend deleteIds) or rewrite")
    // route ids -> buckets with the writers' own hash (Spark Murmur3), driver-side
    import spark.implicits._
    val base = SnapshotSink.canonicalBase(out, None)
    SnapshotSink.takedown(spark, out, io, base, ids.toDS()
      .select(pmod(hash(col("value")), lit(base.nBuckets)).cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSet,
      col(idCol).isInCollection(ids))
  }

  /** True iff `outDir` holds a FULLY committed table: a manifest with exactly one
    * entry per base bucket in [0, nBuckets), the recorded count, whose entries all
    * pass the metadata verification tier. The skip-construction probe for derived
    * tables whose CONSTRUCTION is itself expensive driver-side work (trained model state):
    * [[runHashBucketed]] can lazily filter an ordinary plan down to invalid
    * buckets, but a codebook frame cannot be built lazily — its construction runs
    * the training — so the caller asks first and only trains when this is false.
    * Metadata tier only, by the same read-path contract as [[runHashBucketed]]'s
    * default. */
  def isCommitted(spark: SparkSession, outDir: String): Boolean = {
    val out = Paths.get(outDir)
    val entries = SnapshotSink.readManifest(spark, outDir)
    lazy val nBuckets = bucketCount(out) // a table without entries needs none
    entries.nonEmpty && entries.map(_.bucket % nBuckets).sorted == (0L until nBuckets) &&
      SnapshotSink.verifyEntries(spark, out, entries, deepVerify = false)._2.isEmpty
  }

  /** The shared derived-table commit shape (dedup signatures, window hashes, tf):
    * hash-bucket `df` on `keyCol`, commit under the snapshot protocol, read back
    * without the bucket column. Single-sourced so the contract — bucket key is
    * HASH-derived, never `key % n` (a modulus-sampled input would populate only
    * gcd residues); metadata-tier verification by default on read paths with the
    * deep hash as the explicit audit knob — cannot drift between the callers. */
  def runHashBucketed(df: DataFrame, keyCol: String, outDir: String, nBuckets: Int,
      deepVerify: Boolean = false): DataFrame = {
    val withBucket =
      df.withColumn("bucket", pmod(hash(col(keyCol)), lit(nBuckets)).cast("int"))
    run(withBucket, outDir, nBuckets, deepVerify = deepVerify)
    SnapshotSink.readCommitted(df.sparkSession, outDir).drop("bucket")
  }

  // ---- recorded layout: schema evolution and the bucket count ----------------------
  //
  // Iceberg-style table-level schema history (in the state record, as a list of
  // {version, ddl}): every commit — batch, stream and derived-table — records the
  // writer's schema, and every scan reads with the newest version, so no reader
  // ever infers a schema from data files. The same edit records the bucket count,
  // the table's partition spec: set by the commit that creates the table, read by
  // every takedown, merge and compaction, and never changed — a creating writer
  // with another count is refused. An ADD-COLUMN evolution (all
  // previously-recorded columns still present with identical types) appends a new
  // version, and old buckets keep their files: the new columns read back NULL.
  // Anything else — dropped column, retyped column — is REFUSED loudly: those need
  // an explicit rewrite (the [[SnapshotSink.compact]]-shaped action), never a
  // silent half-schema table. Resume composes: healing an old bucket under the
  // evolved schema rewrites just that bucket in the new shape. `bucket` is the
  // partition column, INT or BIGINT by writer: it takes no part in the record,
  // and scans type it BIGINT. Nullability takes no part either: a frame read
  // back from parquet is all-nullable, and must not count as a change.

  final case class SchemaVersion(version: Long, ddl: String)

  /** Recorded schema versions, ascending (empty before the first commit). */
  def schemaHistory(outDir: String): Seq[SchemaVersion] =
    SnapshotSink.readState(Paths.get(outDir)).schemas

  /** `schema` as recorded and compared: every column but `bucket`, all nullable. */
  private[sources] def dataColumns(schema: StructType): StructType =
    StructType(schema.filter(_.name != "bucket")).toNullable

  /** The schema every scan of `out` reads with: the newest recorded version's
    * columns, then `bucket` BIGINT. A table without one is refused, never inferred. */
  private[sources] def tableSchema(out: Path): StructType =
    SnapshotSink.readState(out).schemas.lastOption.fold(throw unrecorded(out, "schema"))(
      v => dataColumns(StructType.fromDDL(v.ddl)).add("bucket", LongType))

  /** The bucket count every takedown, merge and compaction of `out` routes with. A
    * table without one is refused, never inferred from its manifest. */
  private[sources] def bucketCount(out: Path): Int =
    Some(SnapshotSink.readState(out).nBuckets).filter(_ > 0)
      .getOrElse(throw unrecorded(out, "bucket count"))

  private def unrecorded(out: Path, what: String) = new IllegalStateException(
    s"$out has no recorded $what: it was committed before every table recorded " +
      s"its $what, or never committed — rebuild it (delete the directory and re-run " +
      "its writer)")

  /** The one layout edit: it records `nBuckets` and records `schema` as the table's
    * newest schema version, unless it equals the newest one. Refuses a count other
    * than the recorded one, a non-add-column change, and a committed table without
    * a recorded count or schema. Every commit applies it in the state publish that
    * commits ([[SnapshotSink.commitWaveFlat]]); writers also apply it to the
    * current state first, to refuse before writing anything. */
  private[sources] def recordLayout(out: Path, schema: StructType, nBuckets: Int)(
      s0: SnapshotSink.TableState): SnapshotSink.TableState = {
    if (s0.nBuckets == 0 && s0.head != 0L) throw unrecorded(out, "bucket count")
    require(s0.nBuckets == 0 || s0.nBuckets == nBuckets,
      s"$out records ${s0.nBuckets} buckets; a write with nBuckets = $nBuckets would " +
        "route rows to buckets no other write of this table reads — refused")
    val s = s0.copy(nBuckets = nBuckets)
    val cur = dataColumns(schema)
    s.schemas.lastOption.map(v => v -> dataColumns(StructType.fromDDL(v.ddl))) match {
      case None if s.head != 0L => throw unrecorded(out, "schema")
      case Some((_, prev)) if prev.toDDL == cur.toDDL => s // unchanged — common case
      case last =>
        last.foreach { case (head, prev) =>
          val types = cur.fields.map(f => f.name -> f.dataType).toMap
          val broken = prev.fields.filter(f => !types.get(f.name).contains(f.dataType))
          require(broken.isEmpty,
            s"incompatible schema change for committed table $out: column(s) " +
              broken.map(f => s"${f.name}:${f.dataType.sql}").mkString("[", ", ", "]") +
              " dropped or retyped vs recorded schema version " + head.version +
              " — add-column evolution only; drops/retypes need an explicit rewrite")
        }
        s.copy(schemas =
          s.schemas :+ SchemaVersion(last.map(_._1.version).getOrElse(0L) + 1, cur.toDDL))
    }
  }
}
