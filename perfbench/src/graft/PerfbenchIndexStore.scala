package graft

/** The index store's snapshot resolve, for the benchmark's
  * `index_store.*` observations. `graft.api.IndexStore` is package-private
  * to `graft`; this is the only reason for the package. */
object PerfbenchIndexStore {
  /** The latest committed version of the index at `indexDir`, if any. */
  def version(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[Int] =
    graft.api.IndexStore.resolve(spark, indexDir).map(_.version)
}
