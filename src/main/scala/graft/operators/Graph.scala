package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Materialize, Tables}

/** Iterative graph analytics over a derived link structure — the classic
  * "many rounds of join + aggregate" workload class (PageRank here), which
  * stresses a different engine axis than any single-pass query: lineage
  * across iterations, shuffle reuse, and numeric determinism under
  * repeated aggregation.
  *
  * Numeric design: ranks are INTEGER micro-units (1.0 ≡ 1,000,000), the
  * damping step is `(r * 850000) div (1000000 * deg)` and the teleport
  * term is `+150000` — all exact 64-bit integer arithmetic. Integer sums
  * are associative and order-independent, so the result is bit-identical
  * at any partitioning/parallelism AND replayable by the DuckDB oracle as
  * five unrolled join+aggregate CTEs (floating-point PageRank would be
  * neither: FP addition order varies with the shuffle). Long headroom:
  * r ≤ ~4e6 · 850000 ≈ 3.4e12 per contribution, far under 2^63.
  *
  * Scale shape (100 TB / 10^9+ nodes): per iteration ONE equi-join of the
  * edge table with the rank table on src plus ONE hash aggregate on dst —
  * no windows, no driver state but a single max(id) scalar. The edge+deg
  * table is materialized once (`localCheckpoint`, same discipline as
  * `Dedup.connectedComponents`) and reused by all iterations; in
  * production both sides would be bucketed by id so the per-iteration
  * join re-uses one co-partitioning end to end. Iteration count is fixed
  * (power iteration converges geometrically; 5 rounds is the catalog's
  * pinned budget, spec-asserted against the oracle's unrolled replay).
  *
  * (Reference analogue: none — the reference has no graph module; this is
  * brief-side completeness for the analytics-engine surface.)
  */
object Graph {

  /** Fixed iteration budget, shared by plan and oracle. */
  val PrIters = 5

  /** Synthetic deterministic link graph over the documents' doc_id space:
    * each node links to (id·31+7), (id·17+3), (id·13+1) mod (max_id+1),
    * self-loops dropped, targets kept only if they exist (sparse id
    * spaces stay correct), duplicate targets kept (multigraph — both
    * engines count multiplicity identically). */
  private def edgesWithDeg(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    val mrow = nodes.agg(max(col("id"))).head()
    require(!mrow.isNullAt(0),
      "pageRank: empty documents table — the synthetic link graph needs " +
        "at least one node")
    val m = mrow.getLong(0) + 1L
    val raw = nodes.select(col("id").as("src"),
        explode(array(
          (col("id") * 31 + 7) % m,
          (col("id") * 17 + 3) % m,
          (col("id") * 13 + 1) % m)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = raw.join(nodes.withColumnRenamed("id", "dst"),
      Seq("dst"), "left_semi")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    edges.join(deg, "src")
  }

  /** Five power-iteration rounds of damped PageRank in exact integer
    * micro-units; returns (id, r) for every node, ordered by id. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    // one materialization job; every iteration reuses the result
    val ed = Materialize.eagerly(edgesWithDeg(spark, dir))
    var ranks = nodes.select(col("id"), lit(1000000L).as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = ed.join(ranks, ed("src") === ranks("id"))
        .select(col("dst").as("id"),
          expr("(r * 850000) div (1000000 * deg)").as("c"))
        .groupBy("id").agg(sum(col("c")).as("cin"))
      ranks = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(150000L) + coalesce(col("cin"), lit(0L))).as("r"))
    }
    ranks.orderBy("id")
  }

  /** The unrolled-CTE DuckDB replay of `pageRank` — generated from the
    * same PrIters constant so plan and oracle can never disagree on the
    * iteration count. */
  def pageRankOracleSql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT n.id, 150000 + COALESCE(s.cin, 0) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id,
         |      SUM((p.r * 850000) // (1000000 * e.deg)) AS cin
         |    FROM ed e JOIN r${i - 1} p ON e.src = p.id
         |    GROUP BY 1) s USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       |mx AS (SELECT MAX(id) + 1 AS m FROM nodes),
       |raw AS (
       |  SELECT id AS src, (id * 31 + 7) % m AS dst FROM nodes, mx
       |  UNION ALL SELECT id, (id * 17 + 3) % m FROM nodes, mx
       |  UNION ALL SELECT id, (id * 13 + 1) % m FROM nodes, mx),
       |e0 AS (
       |  SELECT src, dst FROM raw
       |  WHERE src <> dst AND dst IN (SELECT id FROM nodes)),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY 1),
       |ed AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$iters
       |SELECT id, CAST(r AS BIGINT) AS r FROM r$PrIters
       |ORDER BY id""".stripMargin
  }

  /** Corpus snapshot diff — the dataset-versioning primitive: classify
    * every doc_id across two corpus versions as `added` / `removed` /
    * `changed` / `unchanged` by content hash, and emit the per-status
    * profile (count + id range) a version manifest records.
    *
    * The "new" snapshot is planted from the old one: doc_id%10==0 deleted,
    * doc_id%7==0 re-texted (' v2' appended), +1M copies of doc_id%9==0
    * added — every branch exercised, fully SQL-replayable. The +10⁶
    * offset (like every plant in this repo — Dedup.corpus,
    * Versioning.changeSet, their oracles) assumes the TESTDATA id space
    * (doc_id < 10⁶ per FIXTURES.md); the plant is fixture scaffolding —
    * a production diff takes two REAL snapshots and has no offsets.
    *
    * Scale shape: one full-outer equi-join on the id (the narrow md5
    * comparison travels with the key — text itself never shuffles) and
    * one 4-row aggregate. At 100 TB both snapshots are id-bucketed tables
    * and the join is shuffle-free. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    // presence is tested via explicit side markers, NOT h_old/h_new
    // nullability: md5(NULL text) is NULL, so hash-null presence tests
    // would misreport a NULL-text doc present in both versions as 'added'
    val old = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h_old"),
        lit(true).as("in_old"))
    val cur = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("h_new"))
      .unionByName(Tables.documents(spark, dir)
        .filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          md5(col("text")).as("h_new")))
      .withColumn("in_new", lit(true))
    old.join(cur, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(!(col("h_old") <=> col("h_new")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("status")
  }

  /** Minimum support for a co-purchase edge in [[triangles]]. */
  private[graft] val TriSupport = 2

  /** Triangle counting + global clustering coefficient over the
    * co-purchase graph (parts linked when ≥ [[TriSupport]] shared orders)
    * via DEGREE-ORDERED orientation — the compact-forward algorithm:
    * every edge points from its lower-(degree, id) endpoint to the
    * higher, so each wedge is enumerated at its lowest-order apex and
    * each triangle is counted exactly once.
    *
    * Scale shape: the orientation is THE point — an undirected wedge join
    * fans out quadratically at hub nodes (a degree-10⁶ hub yields 10¹²
    * wedges), while orienting by degree caps every node's out-degree at
    * O(√m), bounding total wedges at O(m^{3/2}) — the classical bound —
    * with plain equi-joins and hash aggregates, no windows. The closing
    * check is one more equi-join against the oriented edge list.
    * Everything (degrees, wedge counts, the 3T/W coefficient's single
    * IEEE division) is exact-integer until the last expression.
    *
    * Materialization (r19): e feeds deg, the orientation join AND the edge
    * count, deg feeds the orientation twice plus the wedge stats, and oe
    * feeds both wedge sides plus the closing join — without it the
    * initial physical plan held 72 lineitem scans / 188 Exchanges (the
    * catalog's worst recompute tree; plans/r19/q_triangles_before.txt),
    * so e and oe are checkpointed — LAZILY since r20; see the body
    * comment for the measured variant sweep. Both frames are BOUNDED
    * graph artifacts the O(m^1.5) algorithm already assumes manageable:
    * e is the supported edge list (two longs/row), oe one row per edge. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // r20 re-measure (the r19 verdict's "settle q_triangles"): LAZY
    // checkpoints on e and oe only, deg left recompute-shaped. A
    // 7-variant DevProbe sweep at BOTH driver core counts (isolated warm
    // medians, sf0.1) read: r19's eager e+deg+oe 2.48 s @32c / 2.20 s
    // @8c; no checkpoint 2.00 / 2.33; eager-oe-only (the verdict's
    // hypothesis) 3.22 / 3.81 — the WORST variant, the stats/edge-count
    // consumers recompute the whole e pipeline behind the oe barrier;
    // lazy e+oe 1.77 / 1.67 — the winner at both. Lazy keeps the lineage
    // truncation (one materialization per frame, shared by every
    // consumer inside the one action) without eager's synchronous
    // build-time barriers; deg is one cheap aggregate over the
    // materialized e, and checkpointing it too measured +0.2 s.
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e = Materialize.lazily(
      items.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(items.select(col("l_orderkey"), col("l_partkey").as("pb")),
          "l_orderkey")
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("s"))
        .filter(col("s") >= TriSupport)
        .select("pa", "pb"))
    val deg = e.select(col("pa").as("v"))
      .unionAll(e.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient: src = endpoint with the smaller (degree, id) pair
    val withDeg = e
      .join(deg.select(col("v").as("pa"), col("d").as("da")), "pa")
      .join(deg.select(col("v").as("pb"), col("d").as("db")), "pb")
    // the head endpoint's degree rides the orientation struct — both
    // degrees are already on withDeg, so the former oe⋈deg re-join of
    // every oriented edge was pure wasted shuffle on the hot path
    val oe = Materialize.lazily(withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("pa") < col("pb")),
        struct(col("pa").as("u"), col("pb").as("w"), col("db").as("dw")))
        .otherwise(struct(col("pb").as("u"), col("pa").as("w"),
          col("da").as("dw"))).as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"), col("o.dw").as("dw")))
    // wedges at the apex u: pairs of out-neighbors ordered by (deg, id) —
    // both wedge sides and the closing join read the ONE materialized oe
    val wedges = oe.select(col("u"), col("w").as("x"), col("dw").as("dx"))
      .join(oe.select(col("u"), col("w").as("y"), col("dw").as("dy")), "u")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val close = oe.select(col("u").as("x"), col("w").as("y"))
    val triCount = wedges.select("x", "y").join(close, Seq("x", "y"))
      .agg(count(lit(1)).as("triangles"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).cast(LongType).as("wedges"))
    val edgeCount = e.agg(count(lit(1)).as("n_edges"))
    stats.crossJoin(broadcast(edgeCount)).crossJoin(broadcast(triCount))
      .select(col("n_nodes"), col("n_edges"), col("wedges"), col("triangles"),
        round(lit(3.0) * col("triangles") / col("wedges"), 6)
          .as("clustering_coeff"))
  }

  /** DuckDB replay of [[triangles]] — the same support gate, the same
    * (degree, id) orientation and wedge order, the same closing join. */
  val trianglesOracleSql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= ${Graph.TriSupport}),
       |deg AS (
       |  SELECT v, COUNT(*) AS d FROM (
       |    SELECT pa AS v FROM e UNION ALL SELECT pb FROM e) GROUP BY 1),
       |oe AS (
       |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
       |           THEN e.pa ELSE e.pb END AS u,
       |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
       |           THEN e.pb ELSE e.pa END AS w
       |  FROM e JOIN deg da ON e.pa = da.v JOIN deg db ON e.pb = db.v),
       |wedges AS (
       |  SELECT a.w AS x, b.w AS y
       |  FROM oe a JOIN oe b ON a.u = b.u
       |  JOIN deg dx ON a.w = dx.v JOIN deg dy ON b.w = dy.v
       |  WHERE dx.d < dy.d OR (dx.d = dy.d AND a.w < b.w)),
       |tri AS (
       |  SELECT COUNT(*) AS triangles
       |  FROM wedges wg JOIN oe ON wg.x = oe.u AND wg.y = oe.w)
       |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       |  (SELECT COUNT(*) FROM e) AS n_edges,
       |  (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS wedges,
       |  tri.triangles,
       |  ROUND(3e0 * tri.triangles /
       |    (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg), 6)
       |    AS clustering_coeff
       |FROM tri""".stripMargin
}
