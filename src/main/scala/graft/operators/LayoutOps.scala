package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for scan pruning — the lakehouse
  * maintenance move that turns parquet min/max footer stats into an
  * index. A table queried by TWO key columns can only be sorted by one
  * of them; interleaving the keys' bits (Morton / Z-order) and sorting
  * by the interleave gives every file a tight bounding BOX in both
  * dimensions, so a two-sided predicate prunes files the way a
  * one-sided predicate prunes a linearly sorted layout. At 100 TB this
  * is the difference between scanning a full partition and scanning
  * the handful of files whose boxes intersect the query. */
object LayoutOps {

  /** Bit-interleaved Z-value of two non-negative integer columns:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1. Pure
    * codegen'd bitwise arithmetic (2·bits shift/mask terms — no UDF).
    * `bits` must cover the value range (values are masked to `bits`
    * low bits; production layouts rank-normalize keys into the bit
    * budget first). 2·bits ≤ 63 keeps the interleave in a long. */
  def zOrder2(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits >= 1 && 2 * bits <= 63, s"bits=$bits out of range")
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(
          shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Bit-interleaved Z-value of k ≥ 2 non-negative integer columns —
    * the n-dimensional generalization of [[zOrder2]] (bit i of column
    * j lands at position k·i + j). Same pure codegen'd bitwise
    * arithmetic; `k·bits ≤ 63` keeps the interleave in one long, so
    * the bit budget per dimension shrinks as dimensions grow (21 bits
    * ×2, 15 ×4, 9 ×7) — the usual lakehouse guidance that z-ordering
    * beyond a handful of columns dilutes every dimension applies. */
  def zOrderN(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 2, "zOrderN needs at least two columns")
    require(bits >= 1 && k * bits <= 63,
      s"bits=$bits over $k dims out of range")
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
          k * i + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Rewrites `df` into `nFiles` parquet files range-partitioned and
    * sorted by the Z-order of (`colA`, `colB`) — the OPTIMIZE ZORDER
    * maintenance job. Content is untouched (the oracle pins it);
    * the layout property — per-file min/max boxes tight in BOTH
    * dimensions — is what the spec measures against a linear sort. */
  def zorderWrite(df: DataFrame, colA: String, colB: String,
      outDir: String, nFiles: Int, bits: Int = 21): Unit =
    zorderFrame(df, Seq(colA, colB), nFiles, bits)
      .write.mode("overwrite").parquet(outDir)

  /** n-dimensional OPTIMIZE ZORDER layout: `df` range-partitioned into
    * `nFiles` partitions and sorted by [[zOrderN]] of `sortCols`, ready
    * for a writer to lay down as one file per partition. `bits ≤ 0`
    * auto-sizes the per-dimension budget to min(21, 63/k) so the
    * interleave fits one long at any dimension count. */
  def zorderFrame(df: DataFrame, sortCols: Seq[String], nFiles: Int,
      bits: Int = -1): DataFrame =
    df.withColumn("__z", zOrderN(sortCols.map(col),
        if (bits <= 0) math.min(21, 63 / sortCols.size) else bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")

  /** Fraction of `dir`'s files whose per-file [min,max] box on
    * (`colA`, `colB`) intersects the query box — the file-skipping
    * effectiveness a stats-pruning reader achieves on this layout.
    * Driver-side per-file loop is measurement scaffolding (spec use),
    * not a data path. */
  def boxScanFraction(spark: org.apache.spark.sql.SparkSession,
      dir: String, colA: String, colB: String,
      aLo: Long, aHi: Long, bLo: Long, bHi: Long): Double = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    val hit = files.count { f =>
      val r = spark.read.parquet(f)
        .agg(min(col(colA)), max(col(colA)), min(col(colB)),
          max(col(colB))).head()
      !(r.getLong(1) < aLo || r.getLong(0) > aHi ||
        r.getLong(3) < bLo || r.getLong(2) > bHi)
    }
    hit.toDouble / files.length
  }
}
