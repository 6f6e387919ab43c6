package graft.functions

/**
 * DuckDB-dialect oracle SQL mirroring the engine's deterministic semantics exactly.
 *
 * Every verified query in [[graft.SparkEntry]] has a mirror here; the driver executes
 * these against the same parquet tables (registered under their bare names) and compares
 * row/schema/value hashes with the Spark output. Parity rules used throughout:
 *
 *  - md5() produces identical lowercase hex in both engines;
 *  - integer division is written floor(a/b) + CAST .. AS BIGINT (both engines do float
 *    division on `/`, same IEEE doubles, same floor);
 *  - DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all default;
 *  - aggregates that can see zero rows are wrapped in coalesce to match Spark's
 *    empty-array -> '' behavior;
 *  - counts/sums are CAST to BIGINT (DuckDB sums integers into HUGEINT);
 *  - booleans are surfaced as INT 0/1 on both sides;
 *  - every query has a total ORDER BY.
 */
object OracleSql {

  /** Engine model inventory — interpolated FROM [[graft.operators.EngineConfig.default]]
    * (sorted for a stable SQL string), so the inventory cannot drift from the engine. */
  val availableLangsSql: String = graft.operators.EngineConfig.default
    .availableLangs.toSeq.sorted.map(l => s"'$l'").mkString("(", ",", ")")

  /** Snapshot bucket count, single-sourced from the sink so the `% N` in every
    * bucket-keyed oracle cannot desynchronize from the Spark side (ADVICE r3). */
  val SnapshotBuckets: Int = graft.sources.SnapshotSink.DefaultBuckets

  /** The bucket `SparkEntry.snapshotResume` deterministically invalidates — defined
    * HERE (next to the SQL that predicts it) and read by the Spark side, same
    * single-sourcing rationale. */
  val ResumeVictim = 3

  /**
   * Shared CTE prefix: synthesizes the interleaved spans and the extracted spans.
   * Mirrors [[graft.sources.Interleave]] (synthesis), [[graft.operators.TextClassifier]]
   * (text branch) and [[graft.operators.DeterministicOcrEngine]] (media branch).
   */
  val extractionCtes: String =
    s"""WITH base AS (
       |  SELECT doc_id AS d, text, lang, source, n_chars,
       |         2 + doc_id % 3 AS kt,
       |         1 + doc_id % 4 + CASE WHEN doc_id % 37 = 0 THEN 24 ELSE 0 END AS km,
       |         'doc-' || lpad(CAST(doc_id AS VARCHAR), 13, '0') AS doc_id_s,
       |         GREATEST(1, CAST(floor(n_chars / (2 + doc_id % 3)) AS BIGINT)) AS cl
       |  FROM documents
       |),
       |tspans AS (
       |  SELECT b.doc_id_s AS doc_id, b.lang, 'text' AS kind,
       |         CAST(NULL AS VARCHAR) AS media_ref,
       |         CAST(i.i * 2 AS INT) AS offset,
       |         CASE WHEN i.i = b.kt - 1 AND b.d % 23 = 0 THEN
       |           '<ul><a href="u0">' || substr(b.text, CAST(1 + i.i * b.cl AS INT), CAST(b.cl AS INT)) || '</a><a href="u1">nav menu</a></ul>'
       |         ELSE
       |           '<nav>menu ' || b.source || '</nav><h1>s' || CAST(i.i AS VARCHAR) || '</h1><p>' || substr(b.text, CAST(1 + i.i * b.cl AS INT), CAST(b.cl AS INT)) || '</p><a href="u' || CAST(b.d AS VARCHAR) || '">more</a><footer>(c) ' || b.source || '</footer>'
       |         END AS text
       |  FROM base b, UNNEST(generate_series(0, b.kt - 1)) AS i(i)
       |),
       |mspans AS (
       |  SELECT b.doc_id_s AS doc_id, b.lang, 'image' AS kind,
       |         CASE WHEN b.d % 41 = 0 AND j.j = 0 THEN 'missing-' || CAST(b.d AS VARCHAR)
       |              ELSE 'm-' || CAST(b.d AS VARCHAR) || '-' || CAST(j.j AS VARCHAR) END AS media_ref,
       |         CAST(j.j * 2 + 1 AS INT) AS offset,
       |         CAST(NULL AS VARCHAR) AS text
       |  FROM base b, UNNEST(generate_series(0, b.km - 1)) AS j(j)
       |),
       |spans AS (SELECT * FROM tspans UNION ALL SELECT * FROM mspans),
       |extracted AS (
       |  SELECT doc_id, lang, "offset", kind,
       |         CASE WHEN 2 * length(array_to_string(regexp_extract_all(text, '<a [^>]*>([^<]*)</a>', 1), ''))
       |                   > length(regexp_replace(text, '<[^>]*>', '', 'g'))
       |              THEN '' ELSE array_to_string(regexp_extract_all(text, '<p>([^<]*)</p>', 1), ' ') END AS text,
       |         media_ref, 1 AS ok, CAST(NULL AS VARCHAR) AS error
       |  FROM tspans
       |  UNION ALL
       |  SELECT doc_id, lang, "offset", kind, '' AS text, media_ref,
       |         0 AS ok, 'Unable to load ' || media_ref AS error
       |  FROM mspans WHERE media_ref LIKE 'missing-%'
       |  UNION ALL
       |  SELECT doc_id, lang, "offset", kind, '' AS text, media_ref, 0 AS ok,
       |         'engine not initialized: ' || lang AS error
       |  FROM mspans WHERE media_ref NOT LIKE 'missing-%' AND lang NOT IN $availableLangsSql
       |  UNION ALL
       |  SELECT m.doc_id, m.lang, m.offset, m.kind,
       |         'ocr:' || m.lang || ' ' || string_agg(substr(md5(m.h || ':' || CAST(w.w AS VARCHAR)), 1, 6), ' ' ORDER BY w.w) AS text,
       |         m.media_ref, 1 AS ok, CAST(NULL AS VARCHAR) AS error
       |  FROM (SELECT *, md5('payload:' || media_ref) AS h FROM mspans
       |        WHERE media_ref NOT LIKE 'missing-%' AND lang IN $availableLangsSql) m,
       |       UNNEST(generate_series(0, 8 + 2 * (instr('0123456789abcdef', substr(m.h, 1, 1)) - 1) - 1)) AS w(w)
       |  GROUP BY m.doc_id, m.lang, m.offset, m.kind, m.media_ref
       |)""".stripMargin

  val interleaveSpans: String =
    s"""$extractionCtes
       |SELECT doc_id, kind, media_ref, "offset", text FROM spans ORDER BY doc_id, "offset"""".stripMargin

  val ocrExtract: String =
    s"""$extractionCtes
       |SELECT doc_id, "offset", kind, text, media_ref, ok, error
       |FROM extracted ORDER BY doc_id, "offset"""".stripMargin

  val extractDocs: String =
    s"""$extractionCtes
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_spans,
       |       CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
       |       CAST(min(ok) AS INT) AS all_ok,
       |       string_agg(text, ' | ' ORDER BY "offset") AS content,
       |       coalesce(string_agg(error, ';' ORDER BY "offset"), '') AS errors
       |FROM extracted GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Mirror of the ASSEMBLED doc form (ExtractPipeline.extractAndReassemble flattened
    * to strings): span order inside `content` is the north-rule sequence invariant,
    * `first_error` is the engine's min-(offset)-error pick (offsets are unique per
    * doc, so arg_min is exact). */
  val extractAssembled: String =
    s"""$extractionCtes
       |SELECT doc_id,
       |       string_agg(CAST("offset" AS VARCHAR) || ':' || kind || ':' || text || ':' || coalesce(media_ref, ''), '|' ORDER BY "offset") AS content,
       |       CAST(min(ok) AS INT) AS all_ok,
       |       coalesce(arg_min(error, "offset") FILTER (WHERE error IS NOT NULL), '') AS first_error,
       |       CAST(count(*) AS BIGINT) AS n_spans
       |FROM extracted GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-span OCR word count, recomputed the way the engine derives it (n words =
    * 8 + 2 * firstHexDigit of the payload hash) — non-OCR spans contribute 0. */
  private val nWordsExpr: String =
    """CASE WHEN kind = 'image' AND ok = 1
      |     THEN 8 + 2 * (instr('0123456789abcdef', substr(md5('payload:' || media_ref), 1, 1)) - 1)
      |     ELSE 0 END""".stripMargin

  /** Mirror of [[graft.operators.SpanMetricsAgg]] over snapshot buckets
    * (bucket = numeric doc id % 8, [[graft.sources.SnapshotSink.bucketOf]]). */
  val spanMetrics: String =
    s"""$extractionCtes
       |SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n_spans,
       |       CAST(sum(CASE WHEN kind = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       |       CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       |       CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
       |       CAST(sum(CASE WHEN kind = 'image' AND ok = 1 THEN length(text) ELSE 0 END) AS BIGINT) AS ocr_chars,
       |       CAST(sum($nWordsExpr) AS BIGINT) AS n_words
       |FROM extracted GROUP BY 1 ORDER BY bucket""".stripMargin

  /** The snapshot manifest's integer lineage columns are the same statistics, so the
    * whole write->commit->manifest->read path is DuckDB-verified end to end. */
  val snapshotLineage: String =
    s"""$extractionCtes
       |SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS rows_,
       |       CAST(count(*) AS BIGINT) AS n_spans,
       |       CAST(sum(CASE WHEN kind = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       |       CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       |       CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
       |       CAST(sum(CASE WHEN kind = 'image' AND ok = 1 THEN length(text) ELSE 0 END) AS BIGINT) AS ocr_chars,
       |       CAST(sum($nWordsExpr) AS BIGINT) AS n_words
       |FROM extracted GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Mirror of SparkEntry.snapshotResume: per-bucket counts are unchanged by the
    * invalidate+resume cycle, and exactly bucket 3 (SparkEntry.ResumeVictim) carries
    * re_extracted = 1 — the resume's processed set must be precisely the
    * invalidated bucket. */
  val snapshotResume: String =
    s"""$extractionCtes
       |SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS rows_,
       |       CAST(count(*) AS BIGINT) AS n_spans,
       |       CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
       |       CAST(max(CASE WHEN CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets = $ResumeVictim THEN 1 ELSE 0 END) AS INT) AS re_extracted
       |FROM extracted GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Mirror of SparkEntry.snapshotTimetravel: a 2-wave commit (waveSize = nBuckets/2)
    * publishes manifest history versions 1 and 2; version v covers exactly buckets
    * 0 .. (nBuckets/2 * v - 1) because [[graft.sources.SnapshotSink.run]] processes
    * base buckets in ascending wave order. `n_buckets` is the protocol arithmetic
    * (manifest entries exist even for empty buckets), `rows_` is the manifest total
    * for the version, and `rows_read` is the row count of the version-resolved DATA
    * scan ([[graft.sources.SnapshotSink.readCommitted]] at the version) — a
    * time-travel read serving a different set of files than the version's manifest
    * hash-mismatches. */
  val snapshotTimetravel: String =
    s"""$extractionCtes,
       |per_bucket AS (
       |  SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_,
       |         CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err
       |  FROM extracted GROUP BY 1
       |)
       |SELECT v.version,
       |       CAST(${SnapshotBuckets / 2} * v.version AS INT) AS n_buckets,
       |       CAST(coalesce(sum(b.rows_), 0) AS BIGINT) AS rows_,
       |       CAST(coalesce(sum(b.rows_), 0) AS BIGINT) AS rows_read,
       |       CAST(coalesce(sum(b.n_err), 0) AS BIGINT) AS n_err
       |FROM (VALUES (1), (2)) AS v(version)
       |LEFT JOIN per_bucket b ON b.bucket < ${SnapshotBuckets / 2} * v.version
       |GROUP BY v.version ORDER BY version""".stripMargin

  /** Mirror of SparkEntry.snapshotRestore: after the 2-wave commit, a rollback to
    * version 1 publishes version 3 whose manifest AND data scan must equal version
    * 1's exactly (waves = CASE WHEN version = 3 THEN 1 ELSE version END), while
    * version 2 stays fully readable — restore is metadata-only, so it can neither
    * lose wave-2 bytes from history nor leak them into the restored HEAD. */
  val snapshotRestore: String =
    s"""$extractionCtes,
       |per_bucket AS (
       |  SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_,
       |         CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err
       |  FROM extracted GROUP BY 1
       |)
       |SELECT v.version,
       |       CAST(${SnapshotBuckets / 2} * v.waves AS INT) AS n_buckets,
       |       CAST(coalesce(sum(b.rows_), 0) AS BIGINT) AS rows_,
       |       CAST(coalesce(sum(b.rows_), 0) AS BIGINT) AS rows_read,
       |       CAST(coalesce(sum(b.n_err), 0) AS BIGINT) AS n_err
       |FROM (VALUES (1, 1), (2, 2), (3, 1)) AS v(version, waves)
       |LEFT JOIN per_bucket b ON b.bucket < ${SnapshotBuckets / 2} * v.waves
       |GROUP BY v.version, v.waves ORDER BY version""".stripMargin

  /** Mirror of SparkEntry.snapshotExpire: a 4-wave commit (wave = nb/4 buckets,
    * version v covers buckets 0 .. nb/4*v-1), tag on version 1,
    * expireVersions(keepLast = 2) — only version 2 dies: version 1 is tag-pinned,
    * versions 3..4 are inside the retention window. Expired versions read as
    * live=0 with zeroed counts; surviving versions' manifest totals equal their
    * version-resolved data scans. */
  val snapshotExpire: String =
    s"""$extractionCtes,
       |per_bucket AS (
       |  SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_
       |  FROM extracted GROUP BY 1
       |)
       |SELECT v.version,
       |       CAST(CASE WHEN v.version = 1 THEN 1 ELSE 0 END AS INT) AS tagged,
       |       CAST(CASE WHEN v.version = 2 THEN 0 ELSE 1 END AS INT) AS live,
       |       CAST(CASE WHEN v.version = 2 THEN 0
       |                 ELSE ${SnapshotBuckets / 4} * v.version END AS INT) AS n_buckets,
       |       CAST(coalesce(sum(b.rows_), 0) AS BIGINT) AS rows_,
       |       CAST(coalesce(sum(b.rows_), 0) AS BIGINT) AS rows_read
       |FROM (VALUES (1), (2), (3), (4)) AS v(version)
       |LEFT JOIN per_bucket b
       |  ON v.version <> 2 AND b.bucket < ${SnapshotBuckets / 4} * v.version
       |GROUP BY v.version ORDER BY version""".stripMargin

  /** Mirror of SparkEntry.snapshotVacuum: after rollback to version 1, vacuum
    * reclaims exactly the wave-2-exclusive buckets (nb/2 .. nb-1) — the wave-2
    * manifest's per-bucket counts survive as metadata history, the reclaimed
    * buckets read back empty from HEAD, and the retained wave-1 buckets read back
    * in full. */
  val snapshotVacuum: String =
    s"""$extractionCtes,
       |per_bucket AS (
       |  SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_,
       |         CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err
       |  FROM extracted GROUP BY 1
       |)
       |SELECT bucket, rows_, n_err,
       |       CAST(CASE WHEN bucket >= ${SnapshotBuckets / 2} THEN 1 ELSE 0 END AS INT) AS vacuumed,
       |       CAST(CASE WHEN bucket < ${SnapshotBuckets / 2} THEN rows_ ELSE 0 END AS BIGINT) AS head_rows
       |FROM per_bucket ORDER BY bucket""".stripMargin

  /** Mirror of SparkEntry.snapshotChanges: the incremental diff between history
    * versions 1 and 2 of a 2-wave commit is exactly the SECOND wave's buckets
    * (nBuckets/2 .. nBuckets-1, ascending wave order), each with its full per-bucket
    * span counts — unchanged first-wave buckets must NOT appear. */
  val snapshotChanges: String =
    s"""$extractionCtes
       |SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS rows_,
       |       CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err
       |FROM extracted
       |WHERE CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets >= ${SnapshotBuckets / 2}
       |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Takedown victim selector for `SparkEntry.snapshotTakedown`: documents whose
    * numeric id satisfies `id % TakedownMod == TakedownRes` are deleted. Single-
    * sourced beside the SQL that predicts them (same rationale as [[ResumeVictim]]).
    * 23/5 spreads ~4% of documents across most buckets, so the query exercises
    * multi-bucket rewrites AND untouched buckets in one run. */
  val TakedownMod = 23
  val TakedownRes = 5

  /** Mirror of SparkEntry.snapshotTakedown: after a full commit and
    * [[graft.sources.SnapshotSink.deleteDocs]] of the victim set, per-bucket lineage
    * must show exactly the NON-victim documents' spans, and `rewritten` = 1 exactly
    * on buckets that contained a victim (bucket-granular copy-on-write: a takedown
    * that rewrites untouched buckets, or misses a victim's rows, hash-mismatches).
    * The bucket dim is generated so an all-victim bucket would still surface with
    * rows_ = 0. */
  val snapshotTakedown: String =
    s"""$extractionCtes,
       |kept AS (
       |  SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |         error
       |  FROM extracted
       |  WHERE CAST(substr(doc_id, 5) AS BIGINT) % $TakedownMod <> $TakedownRes
       |),
       |vict AS (
       |  SELECT DISTINCT CAST(doc_id % $SnapshotBuckets AS INT) AS bucket
       |  FROM documents WHERE doc_id % $TakedownMod = $TakedownRes
       |)
       |SELECT CAST(d.b AS INT) AS bucket,
       |       CAST(coalesce(count(k.bucket), 0) AS BIGINT) AS rows_,
       |       CAST(coalesce(sum(CASE WHEN k.error IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_err,
       |       CAST(CASE WHEN d.b IN (SELECT bucket FROM vict) THEN 1 ELSE 0 END AS INT) AS rewritten
       |FROM UNNEST(generate_series(0, $SnapshotBuckets - 1)) AS d(b)
       |LEFT JOIN kept k ON k.bucket = d.b
       |GROUP BY d.b ORDER BY bucket""".stripMargin

  /** Upsert victim selector for `SparkEntry.snapshotUpsert`: documents whose numeric
    * id satisfies `id % UpsertMod == UpsertRes` are "re-crawled" — their committed
    * rows are REPLACED by a revised extraction (text spans only, 'v2:'-prefixed
    * content). Distinct from the takedown selector so the two protocol queries
    * exercise different bucket sets. ~5% of documents across most buckets =>
    * multi-bucket rewrites AND untouched buckets in one run. */
  val UpsertMod = 19
  val UpsertRes = 7

  /** Documents the merge INSERTS (ids max(doc_id)+1 .. +UpsertNewDocs), each with
    * [[UpsertNewSpans]] text spans — the insert half of MERGE semantics. */
  val UpsertNewDocs = 3
  val UpsertNewSpans = 2

  /** Mirror of SparkEntry.snapshotUpsert: after a full commit and
    * [[graft.sources.SnapshotSink.upsertDocs]] of (victims' revised extraction +
    * new documents), the committed table must hold EXACTLY the merged row set:
    * non-victim rows untouched, victims' rows replaced by their kt text spans
    * ('v2:' prefix — so a merge that appends instead of replacing flips rows_ and
    * n_media; one that loses bystanders flips content_md5), inserted docs present,
    * and `rewritten` = 1 precisely on buckets containing a victim or an insert.
    * content_md5 digests (doc_id:offset:text) in (doc_id, offset) order per bucket,
    * putting the merged BYTES (not just counts) under the gate. */
  /** The merge result + touched-bucket CTEs shared by `snapshotUpsert` and
    * `snapshotBranch` (both commit the same update set — one in place, one staged
    * on a branch and fast-forwarded). */
  private val upsertMergeCtes: String =
    s"""mx AS (SELECT max(doc_id) AS m FROM documents),
       |merged AS (
       |  SELECT doc_id, "offset", kind, text, error
       |  FROM extracted
       |  WHERE CAST(substr(doc_id, 5) AS BIGINT) % $UpsertMod <> $UpsertRes
       |  UNION ALL
       |  SELECT doc_id, "offset", kind, 'v2:' || text, error
       |  FROM extracted
       |  WHERE CAST(substr(doc_id, 5) AS BIGINT) % $UpsertMod = $UpsertRes
       |    AND kind = 'text'
       |  UNION ALL
       |  SELECT 'doc-' || lpad(CAST(mx.m + i.i AS VARCHAR), 13, '0'),
       |         CAST(j.j AS INT), 'text',
       |         'new:' || CAST(mx.m + i.i AS VARCHAR) || ':' || CAST(j.j AS VARCHAR),
       |         CAST(NULL AS VARCHAR)
       |  FROM mx, UNNEST(generate_series(1, $UpsertNewDocs)) AS i(i),
       |       UNNEST(generate_series(0, ${UpsertNewSpans - 1})) AS j(j)
       |),
       |touched AS (
       |  SELECT DISTINCT CAST(doc_id % $SnapshotBuckets AS INT) AS bucket
       |  FROM documents WHERE doc_id % $UpsertMod = $UpsertRes
       |  UNION
       |  SELECT DISTINCT CAST((mx.m + i.i) % $SnapshotBuckets AS INT)
       |  FROM mx, UNNEST(generate_series(1, $UpsertNewDocs)) AS i(i)
       |)""".stripMargin

  /** Per-base-bucket counts + content digest over `src` (which must expose
    * doc_id / "offset" / kind / text / error) — the SQL mirror of
    * SparkEntry.contentAgg. */
  private def bucketContentAgg(src: String): String =
    s"""SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_,
       |         CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       |         CAST(sum(CASE WHEN kind = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       |         CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
       |         md5(string_agg(doc_id || ':' || CAST("offset" AS VARCHAR) || ':' || coalesce(text, ''),
       |             '|' ORDER BY doc_id, "offset")) AS content_md5
       |  FROM $src GROUP BY 1""".stripMargin

  val snapshotUpsert: String =
    s"""$extractionCtes,
       |$upsertMergeCtes,
       |agg AS (
       |  ${bucketContentAgg("merged")}
       |)
       |SELECT a.bucket, a.rows_, a.n_text, a.n_media, a.n_err, a.content_md5,
       |       CAST(CASE WHEN a.bucket IN (SELECT bucket FROM touched)
       |            THEN 1 ELSE 0 END AS INT) AS rewritten
       |FROM agg a ORDER BY bucket""".stripMargin

  /** Mirror of SparkEntry.snapshotBranch (the WAP cycle): phase 0 = HEAD between
    * the branch merge and the fast-forward, which must still digest-equal the
    * ORIGINAL extraction (write isolation); phase 1 = HEAD after the fast-forward,
    * which must digest-equal the merged table with `rewritten` on exactly the
    * touched base buckets — the same merged/touched arithmetic as snapshotUpsert. */
  val snapshotBranch: String =
    s"""$extractionCtes,
       |$upsertMergeCtes,
       |agg0 AS (
       |  ${bucketContentAgg("extracted")}
       |),
       |agg1 AS (
       |  ${bucketContentAgg("merged")}
       |)
       |SELECT CAST(0 AS INT) AS phase, a.bucket, a.rows_, a.n_text, a.n_media,
       |       a.n_err, a.content_md5, CAST(0 AS INT) AS rewritten
       |FROM agg0 a
       |UNION ALL
       |SELECT CAST(1 AS INT) AS phase, a.bucket, a.rows_, a.n_text, a.n_media,
       |       a.n_err, a.content_md5,
       |       CAST(CASE WHEN a.bucket IN (SELECT bucket FROM touched)
       |            THEN 1 ELSE 0 END AS INT) AS rewritten
       |FROM agg1 a
       |ORDER BY phase, bucket""".stripMargin

  /** Number of synthetic stream micro-batches `SparkEntry.snapshotCompact` commits
    * before compacting. The compacted generation index equals this count (batch ids
    * 0..N-1 occupy generations 0..N-1, so the rewrite lands at generation N) —
    * single-sourced here so the Spark side and this SQL cannot drift. */
  val CompactBatches = 2

  /** Mirror of SparkEntry.snapshotCompact: compaction merges the stream batches'
    * composite buckets (batchId*nBuckets + base) into ONE canonical generation whose
    * index is [[CompactBatches]], with per-base counts equal to a straight per-bucket
    * aggregation of the whole corpus. A rewrite that loses or duplicates rows flips
    * rows_/n_spans; one that mis-numbers the new generation flips `generation` —
    * either hash-mismatches. */
  val snapshotCompact: String =
    s"""$extractionCtes
       |SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) % $SnapshotBuckets AS INT) AS bucket,
       |       CAST($CompactBatches AS INT) AS generation,
       |       CAST(count(*) AS BIGINT) AS rows_,
       |       CAST(count(*) AS BIGINT) AS n_spans,
       |       CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err
       |FROM extracted GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Expected hOCR/ALTO parse output computed DIRECTLY from the engine word model
    * (word i of an ok media span = substr(md5(payloadHex:i),1,6); geometry/conf per
    * [[HocrAlto]]'s deterministic layout) — independent of the Spark side's actual
    * build->parse round-trip, so a parser bug cannot cancel out. */
  private def wordCtes: String =
    s"""okm AS (
       |  SELECT doc_id, "offset", md5('payload:' || media_ref) AS h
       |  FROM mspans
       |  WHERE media_ref NOT LIKE 'missing-%' AND lang IN $availableLangsSql
       |),
       |words AS (
       |  SELECT m.doc_id, m."offset", CAST(w.w AS INT) AS word_idx,
       |         substr(md5(m.h || ':' || CAST(w.w AS VARCHAR)), 1, 6) AS word
       |  FROM okm m,
       |       UNNEST(generate_series(0, 8 + 2 * (instr('0123456789abcdef', substr(m.h, 1, 1)) - 1) - 1)) AS w(w)
       |)""".stripMargin

  private val wordConf: String =
    "CAST(50 + 3 * (instr('0123456789abcdef', substr(word, 1, 1)) - 1) AS INT)"

  val hocrWords: String =
    s"""$extractionCtes,
       |$wordCtes
       |SELECT doc_id, "offset", word_idx, word,
       |       CAST(word_idx * 10 AS INT) AS x0, CAST(0 AS INT) AS y0,
       |       CAST(word_idx * 10 + 8 AS INT) AS x1, CAST(12 AS INT) AS y1,
       |       $wordConf AS conf
       |FROM words ORDER BY doc_id, "offset", word_idx""".stripMargin

  val altoWords: String =
    s"""$extractionCtes,
       |$wordCtes
       |SELECT doc_id, "offset", word_idx, word,
       |       CAST(word_idx * 10 AS INT) AS hpos, CAST(0 AS INT) AS vpos,
       |       CAST(8 AS INT) AS width, CAST(12 AS INT) AS height,
       |       $wordConf AS wc
       |FROM words ORDER BY doc_id, "offset", word_idx""".stripMargin

  /** Mirror of the pdf_words query: expected reading-order words + page geometry
    * computed DIRECTLY from the engine word model and [[PdfLayout]]'s deterministic
    * layout constants — independent of the Spark side's build->layout-parse
    * round-trip. The layout reconstruction is correct iff the parser's reading-order
    * word index (posexplode over the scrambled-stream parse) equals the model's word
    * index with this line/column arithmetic. */
  val pdfWords: String = {
    import PdfLayout._
    s"""$extractionCtes,
       |$wordCtes
       |SELECT doc_id, "offset", word_idx, word,
       |       CAST(floor(word_idx / $WordsPerLine) AS INT) AS line_idx,
       |       CAST(word_idx % $WordsPerLine AS INT) AS col_idx,
       |       CAST($X0 + $XStep * (word_idx % $WordsPerLine) AS INT) AS x,
       |       CAST($YTop - $YStep * floor(word_idx / $WordsPerLine) AS INT) AS y
       |FROM words ORDER BY doc_id, "offset", word_idx""".stripMargin
  }

  val extractMetrics: String =
    s"""$extractionCtes
       |SELECT lang,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_spans,
       |       CAST(sum(CASE WHEN kind = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       |       CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       |       CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
       |       CAST(sum(CASE WHEN kind = 'image' AND ok = 1 THEN length(text) ELSE 0 END) AS BIGINT) AS ocr_chars
       |FROM extracted GROUP BY lang ORDER BY lang""".stripMargin
}
