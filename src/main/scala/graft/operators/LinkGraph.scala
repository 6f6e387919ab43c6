package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Link-graph analysis over the corpus: deterministic web-shaped edge synthesis plus
 * an exact-integer PageRank — the canonical iterative web-scale operator (and, with
 * dedup_groups' connected components, the second member of the engine's iterative
 * graph family). Web-scale training pipelines use link centrality as a document
 * quality prior (e.g. harmonic-centrality / PageRank filtering in Common Crawl
 * curation); the engine-side shape is what matters here: an edge table, a rank
 * table, and a fixed number of join+aggregate rounds.
 *
 * Determinism contract (the DuckDB mirror reproduces every step bit-for-bit):
 *  - The corpus carries no real hyperlinks, so the graph is SYNTHESIZED from doc_id
 *    exactly like the sampling/quota operators derive membership from md5: doc u has
 *    outdeg(u) = 1 + u32(md5("prd:u")) % [[PrOutMod]] out-edges, the j-th pointing at
 *    u32(md5("pr:u:j")) % N (ids are contiguous 0..N-1 — asserted). Self-loops and
 *    parallel edges are kept (they are well-defined in PageRank and both engines see
 *    the same ones). A real deployment swaps ONLY the edge source (an anchor-href
 *    extraction over the extracted spans); ranks, rounds, and output are unchanged.
 *  - Ranks are scaled BIGINTs (sum ≈ [[PrScale]]): r0 = PrScale DIV N per vertex;
 *    each round r'(v) = tele + (85 * Σ_{u→v} (r(u) DIV outdeg(u))) DIV 100 with
 *    tele = ((PrScale DIV N) * 15) DIV 100 — every division an integer DIV, never a
 *    double (floor(double) is wrong for BIGINT-scale numerators: the true rational
 *    can sit closer to an integer than half an ulp). [[PrIters]] fixed rounds; the
 *    oracle unrolls the same rounds as generated CTEs from these constants.
 *
 * Scale shape (10^12 vertices): the edge table is materialized ONCE and re-read
 * every round (production: committed through the snapshot protocol like dedup
 * signatures). Each round is one join keyed on the source vertex (edges and ranks
 * co-partition on it — at cluster scale, bucketBy both and the join is
 * exchange-free) plus one map-side-partial sum keyed on dst: shuffle volume is
 * O(edges) per round with no quadratic term anywhere. Per-round rank tables are
 * checkpoint-materialized exactly like connectedComponents (lineage truncation +
 * fresh leaf stats — see Dedup.connectedComponentsWithRounds's scaladoc for why the
 * estimated-stats rewrite must be dropped). The top-k output is TakeOrderedAndProject
 * (O(k) per partition), never a global sort.
 */
object LinkGraph {

  /** Out-degree modulus: outdeg in 1..PrOutMod. */
  val PrOutMod = 4
  /** Fixed PageRank rounds (mirrored by generated oracle CTEs). */
  val PrIters = 5
  /** Total rank mass, scaled integer (1e12). */
  val PrScale = 1000000000000L
  /** Damping numerator/denominator: d = 85/100. */
  val PrDampNum = 85L
  val PrDampDen = 100L
  /** Rows emitted: top-k by (rank desc, doc_id asc). */
  val PrTopK = 100

  private def u32(s: Column): Column = graft.functions.PortableHash.md5u32(s)

  /** Out-degree of a vertex id (1..PrOutMod). */
  def outdegOf(id: Column): Column =
    lit(1L) + pmod(u32(concat_ws(":", lit("prd"), id)), lit(PrOutMod.toLong))

  /** Synthesized edge list: (src, outdeg, dst) with one row per out-edge. */
  def edges(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"), outdegOf(col("doc_id")).as("outdeg"))
      .select(col("src"), col("outdeg"),
        explode(sequence(lit(0L), col("outdeg") - 1)).as("j"))
      .select(col("src"), col("outdeg"),
        pmod(u32(concat_ws(":", lit("pr"), col("src"), col("j"))), lit(n)).as("dst"))

  /** Lineage-truncating materialization for the iterative loop — same form as
    * connectedComponents: checkpoint (reliable when a checkpoint dir is set), then
    * rebuild from the RDD so per-round estimated join stats cannot compound. */
  private def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val ck =
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    spark.createDataFrame(ck.rdd, ck.schema)
  }

  /** Validating vertex count, shared by BOTH pagerank entry points: doc_ids must
    * be exactly 0..N-1. One tiny driver-side aggregate; count_distinct is
    * load-bearing, not belt-and-braces: with count alone, {0,1,1,3} passes
    * (count=4, min=0, max=3) and then vertex 2 silently drops rank mass in the
    * left join while the duplicate double-counts — distinct == count == max+1
    * with min 0 is the exact bijection onto 0..N-1. */
  def validatedVertexCount(docs: DataFrame): Long = {
    val row = docs.agg(count(lit(1)), min(col("doc_id")), max(col("doc_id")),
      countDistinct(col("doc_id"))).head()
    val n = row.getLong(0)
    require(n > 0, "pagerank requires a non-empty corpus") // before getLong(1): min(empty) is null
    require(row.getLong(1) == 0L && row.getLong(2) == n - 1 && row.getLong(3) == n,
      s"pagerank requires doc_ids to be exactly 0..N-1 (no gaps, no duplicates); " +
        s"saw min=${row.getLong(1)} max=${row.getLong(2)} distinct=${row.getLong(3)} n=$n")
    n
  }

  /**
   * Exact-integer PageRank over the synthesized graph; emits the top [[PrTopK]]
   * vertices as (doc_id, n_out, n_in, rank_e12).
   *
   * The id space must be contiguous 0..N-1 (the synthesizer's % N target rule);
   * asserted with one bounded aggregate, failing loudly on a gapped corpus instead
   * of silently pointing edges at missing vertices.
   */
  def pagerank(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"))
    val n = validatedVertexCount(docs)
    // the synthesized path's out-degree is a per-row hash — deg is a SHUFFLE-FREE
    // O(vertices) projection here, not a groupBy over the edge table
    val deg = docs.select(col("doc_id").as("src"), outdegOf(col("doc_id")).as("outdeg"))
    pagerankOver(docs.select(col("doc_id").as("v")), n, edges(docs, n), deg)
  }

  /**
   * The PageRank core over ANY edge list carrying (src, dst, outdeg) plus its
   * per-vertex (src, outdeg) degree table — multi-edges carry multiple shares
   * (the standard weighted-by-multiplicity reading), dangling vertices keep
   * teleport mass only. Callers validate the vertex space with
   * [[validatedVertexCount]] and supply the degree table in whatever way is free
   * for their edge source (hash projection for the synthesized graph; the
   * unavoidable one count-per-src for extracted edges). [[pagerank]] runs it over
   * the synthesized graph; [[pagerankAnchors]] over the REAL anchor-href graph
   * extracted from the corpus's text spans — the swap the scaladoc at the top of
   * this file promises.
   */
  def pagerankOver(vertexList: DataFrame, n: Long, edgesWithDeg: DataFrame,
      deg: DataFrame): DataFrame = {
    val base = PrScale / n
    val tele = base * (PrDampDen - PrDampNum) / PrDampDen
    val e = materialize(edgesWithDeg.select(col("src"), col("dst"), col("outdeg")))
    val degM = materialize(deg) // O(vertices): reused for the final n_out join
    // vertex list materialized ONCE: each round's left join reads this one-column
    // table, not the corpus scan again (5 re-scans of corpus metadata at 10^12 rows
    // is real money; the extraction pipeline's resume pruning makes the same move)
    val vertices = materialize(vertexList.select(col("v")))
    var rank = materialize(vertices.select(col("v"), lit(base).as("r")))
    (1 to PrIters).foreach { _ =>
      val insum = e.join(rank, e("src") === rank("v"))
        .select(col("dst"), expr("r DIV outdeg").as("share"))
        .groupBy(col("dst")).agg(sum(col("share")).as("s"))
      rank = materialize(
        vertices
          .join(insum, col("v") === col("dst"), "left")
          .select(col("v"),
            (lit(tele) +
              expr(s"($PrDampNum * coalesce(s, 0L)) DIV $PrDampDen")).as("r")))
    }
    val nIn = e.groupBy(col("dst")).agg(count(lit(1)).as("n_in"))
    rank
      .join(nIn, col("v") === nIn("dst"), "left")
      .join(degM, col("v") === degM("src"), "left")
      .select(col("v").as("doc_id"),
        coalesce(col("outdeg"), lit(0L)).as("n_out"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        col("r").as("rank_e12"))
      .orderBy(col("rank_e12").desc, col("doc_id"))
      .limit(PrTopK)
  }

  /** One row per anchor occurrence (multi-edges preserved — the rank loop's
    * weighted-by-multiplicity input). */
  private def anchorEdgesRaw(spansFlat: DataFrame): DataFrame =
    spansFlat
      .filter(col("kind") === "text")
      .select(
        substring(col("doc_id"), 5, graft.sources.Interleave.DocIdDigits)
          .cast("long").as("src"),
        explode(regexp_extract_all(col("text"),
          lit("href=\"u(\\d+)\""), lit(1))).as("t"))
      .select(col("src"), col("t").cast("long").as("dst"))

  /**
   * ANCHOR-HREF LINK EXTRACTION over the interleaved corpus's text spans — the
   * real edge source: every text span carries `<a href="uK">` markup (the
   * boilerplate archetype links to the hub docs u0/u1; content spans to the doc
   * itself), and this operator turns the raw markup into the numeric
   * (src, dst, n_anchors) web graph. Shuffle story: one regexp scan per span
   * (embarrassingly parallel), then ONE (src, dst) aggregation; hub targets with
   * in-degree O(N) are exactly what map-side partial aggregation flattens.
   *
   * Input is the FLAT span table ([[graft.sources.Interleave.spansFlat]] shape) so
   * the scan enjoys the same nested-pruning discipline as extraction.
   */
  def anchorEdges(spansFlat: DataFrame): DataFrame =
    anchorEdgesRaw(spansFlat)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_anchors"))
      .orderBy(col("src"), col("dst"))

  /** PageRank over the EXTRACTED anchor graph — extraction and graph analysis
    * composed end-to-end under one gate (multi-edges kept: a page linking twice
    * sends two shares). Vertices = all docs (numeric ids from the corpus). */
  def pagerankAnchors(documents: DataFrame, spansFlat: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"))
    val n = validatedVertexCount(docs) // same loud guard as the synthesized form
    val raw = anchorEdgesRaw(spansFlat)
    // EDGE-side half of the loud-failure contract (ADVICE r4): an extracted
    // href="uK" with K outside 0..N-1 would have its rank share silently dropped
    // by the per-round left join — mass conservation broken with no error, and
    // both engines agree so the gate cannot catch it. One bounded map-side
    // aggregate over the edge list (O(edges) scan, 2-long result) turns that
    // into the same loud refusal the vertex guard gives.
    val mm = raw.agg(min(col("dst")), max(col("dst")), min(col("src")),
      max(col("src"))).head()
    if (!mm.isNullAt(0)) // empty edge list is legal (teleport-only graph)
      require(mm.getLong(0) >= 0L && mm.getLong(1) < n
          && mm.getLong(2) >= 0L && mm.getLong(3) < n,
        s"extracted anchor edges point outside the vertex space 0..${n - 1}: " +
          s"dst in [${mm.getLong(0)}, ${mm.getLong(1)}], " +
          s"src in [${mm.getLong(2)}, ${mm.getLong(3)}] — rank mass would be " +
          "silently dropped; clean the anchor extraction or remap ids first")
    val deg = raw.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    pagerankOver(docs.select(col("doc_id").as("v")), n, raw.join(deg, "src"), deg)
  }
}
