package graft

import org.apache.spark.sql.DataFrame

/** The one place an intermediate's lineage is cut. Every site in the
  * engine that materializes a frame calls [[lazily]] (the checkpoint runs
  * inside the first consuming action) or [[eagerly]] (it runs now); the
  * measured reason for each choice stays in the site's comment, and
  * docs/TUNING.md tables them all. Both are a `localCheckpoint`: the
  * blocks live in executor storage and are not recomputed when lost. */
private[graft] object Materialize {

  // a plain (non-inheritable) ThreadLocal: a thread started inside a
  // planOnly block, e.g. a Spark pool thread, must not see the scope
  private val planning = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  def lazily(df: DataFrame): DataFrame = cut(df, eager = false)

  def eagerly(df: DataFrame): DataFrame = cut(df, eager = true)

  /** Runs `body` with every cut made on this thread an identity, so a
    * plan test reads the full logical shape that checkpoints would hide
    * behind ExistingRDD scans. Restored on exit, also when `body` throws. */
  def planOnly[T](body: => T): T = {
    val outer = planning.get
    planning.set(true)
    try body finally planning.set(outer)
  }

  private def cut(df: DataFrame, eager: Boolean): DataFrame =
    if (planning.get) df else df.localCheckpoint(eager)
}
