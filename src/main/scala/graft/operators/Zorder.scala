package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data clustering — the write-side layout that
  * makes MULTI-dimensional filters prune at read time.
  *
  * Parquet row-group min/max statistics prune a scan only when the
  * filtered column is locally clustered. A table sorted by `x` prunes
  * `x` filters perfectly and `y` filters not at all (every row group
  * spans the full `y` domain). Interleaving the key bits and sorting by
  * the combined z-value bounds BOTH dimensions within each row group,
  * so a filter on either key (or a box on both) skips most groups —
  * the standard lakehouse layout trick for 100 TB fact tables queried
  * along more than one axis.
  *
  * The write is one range-exchange + local sort (exactly what a plain
  * global sort costs); pruning then pays that back on every read.
  * ZorderSpec measures it: rows materialized by a y-only filter drop
  * by >2× vs a linear layout on the same data.
  */
object Zorder {

  /** Morton code of two key columns (low 32 bits each; normalize
    * negative / wide domains first). */
  def zCol(a: Column, b: Column): Column =
    call_function("z_interleave", a.cast("long"), b.cast("long"))

  /** Hilbert-curve distance of two key columns (low 16 bits each) — the
    * locality-stricter alternative to [[zCol]]: consecutive curve values
    * are always grid neighbors, so d-sorted row groups carry tighter
    * min/max bounds than Morton's seam-crossing runs. */
  def hilbertCol(a: Column, b: Column): Column =
    call_function("hilbert_index", a.cast("long"), b.cast("long"))

  /** Write `df` z-ordered on (a, b): range-partition into `numFiles`
    * z-runs, sort each run locally, write parquet. `options` passes
    * writer knobs through (e.g. a small `parquet.block.size` to get
    * fine-grained row groups, as the spec does). */
  def clusterWrite(df: DataFrame, path: String, a: Column, b: Column,
      numFiles: Int, options: Map[String, String] = Map.empty): Unit =
    clusterWriteBy(df, path, zCol(a, b), numFiles, options)

  /** [[clusterWrite]] along the Hilbert curve instead of the Z-curve. */
  def clusterWriteHilbert(df: DataFrame, path: String, a: Column, b: Column,
      numFiles: Int, options: Map[String, String] = Map.empty): Unit =
    clusterWriteBy(df, path, hilbertCol(a, b), numFiles, options)

  private def clusterWriteBy(df: DataFrame, path: String, curve: Column,
      numFiles: Int, options: Map[String, String]): Unit =
    df.withColumn("__z", curve)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").options(options).parquet(path)
}
