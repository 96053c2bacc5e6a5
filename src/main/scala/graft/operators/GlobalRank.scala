package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The distributed global-rank machinery shared by every operator that
  * needs a total order WITHOUT a single-task `Window.orderBy`: persist the
  * range-sorted RDD, take per-partition sizes in ONE job (which also
  * materializes the cache), and derive the total count plus
  * zipWithIndex-style partition offsets from that single pass.
  *
  * One definition ends the copy drift the r10 review found: ntileDecile,
  * giniLorenz, calibrationCurve and seqPack each hand-rolled this block
  * (and only one copy had gained the `q == 0` tile guard). The first three
  * run the whole lifecycle through [[tiled]]; seqPack folds token sums,
  * not row counts, and keeps its manifest distributed, so it uses
  * [[offsets]] alone. */
private[graft] object GlobalRank {

  /** NTILE over a range-sorted frame without a single-task window: persist
    * `sorted` at MEMORY_AND_DISK, take the [[offsets]] in one job, tag each
    * row with its `decile` (the [[tile]] of `tiles`) and 1-based global
    * `rank` in front of its own columns, run `report` over that, collect
    * the result and release the cached sort. `report` must be bounded —
    * it lands on the driver (one row per tile for every caller). */
  def tiled(sorted: DataFrame, tiles: Int)(
      report: DataFrame => DataFrame): DataFrame = {
    val spark = sorted.sparkSession
    val rdd = sorted.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val offsets = GlobalRank.offsets(rdd)
      val n = offsets.last
      val ranked = rdd.mapPartitionsWithIndex { (pi, it) =>
        var idx = offsets(pi)
        it.map { row =>
          val t = tile(idx, n, tiles)
          idx += 1
          Row.fromSeq(t +: idx +: row.toSeq)
        }
      }
      val out = report(spark.createDataFrame(ranked, StructType(
        StructField("decile", LongType, nullable = false) +:
          StructField("rank", LongType, nullable = false) +:
          sorted.schema.fields)))
      spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*),
        out.schema)
    } finally rdd.unpersist(blocking = false)
  }

  /** Per-partition sizes and exclusive prefix offsets of a (persisted)
    * RDD — one job; `offsets(p)` is the global index of partition p's
    * first row and `offsets(numPartitions)` the total count. */
  def offsets(rdd: RDD[Row]): Array[Long] = {
    val sizes = rdd.mapPartitionsWithIndex(
      (pi, it) => Iterator((pi, it.size.toLong)))
      .collect().sortBy(_._1).map(_._2)
    sizes.scanLeft(0L)(_ + _)
  }

  /** The SQL-standard NTILE closed form over a 0-based global index:
    * the first `n % tiles` tiles hold `n div tiles + 1` rows, the rest
    * `n div tiles`. When n < tiles, q = 0 and rem = n, so every idx < rem
    * takes the first branch (tile = idx + 1, one row per tile) — the
    * explicit q == 0 arm makes the else branch's division structurally
    * unreachable instead of relying on the range argument. */
  def tile(idx: Long, n: Long, tiles: Int): Long = {
    val q = n / tiles
    val rem = n % tiles
    if (q == 0 || idx < rem * (q + 1)) idx / (q + 1) + 1
    else rem + (idx - rem * (q + 1)) / q + 1
  }
}
