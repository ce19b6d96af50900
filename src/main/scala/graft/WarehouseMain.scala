package graft

import graft.dw.Warehouse

/** End-to-end warehouse build CLI — the `transformation.py main()`
  * equivalent (`/root/reference/transformation.py:602-691`).
  *
  * Usage: runMain graft.WarehouseMain <rawDir> <outDir>
  *
  * Reads Yelp-shaped NDJSON + climate CSVs from <rawDir> (missing files
  * become typed empty inputs), builds the 21-table star schema, registers
  * the non-empty tables as views, writes each as parquet under <outDir>,
  * and prints a per-table row-count summary (the reference logs the same
  * at transformation.py:689-691).
  */
object WarehouseMain {
  def main(args: Array[String]): Unit = {
    val Array(rawDir, outDir) = args.take(2)
    val spark = Harness.session()
    ops.configure(spark)

    val t0 = System.nanoTime()
    val tables = Warehouse.build(spark, Warehouse.Inputs(
      business = s"$rawDir/business.json",
      review = s"$rawDir/review.json",
      user = s"$rawDir/user.json",
      checkin = s"$rawDir/checkin.json",
      tip = s"$rawDir/tip.json",
      covid = s"$rawDir/covid.json",
      temperature = s"$rawDir/temperature.csv",
      precipitation = s"$rawDir/precipitation.csv"))
    val registered = Warehouse.register(tables)
    Warehouse.writeParquet(tables.filter(t => registered.contains(t._1)), outDir)
    // Count from the freshly written parquet (metadata-only job) instead of
    // re-executing every pipeline lineage a second time.
    tables.foreach { case (name, _) =>
      val n = if (registered.contains(name))
        spark.read.parquet(s"$outDir/$name").count()
      else 0L
      println(f"$name%-28s $n%10d rows${if (!registered.contains(name)) "  (empty, skipped)" else ""}")
    }
    println(f"warehouse build took ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"(${registered.size}/${tables.size} tables non-empty)")
    spark.stop()
  }
}
