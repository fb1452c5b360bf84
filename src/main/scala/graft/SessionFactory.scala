package graft

import org.apache.spark.sql.SparkSession

/** ONE place for the session configuration the engine expects (VERDICT r17
  * #3): the r17 cached-plan re-partitioning flag lived only in the bench /
  * verify harness builders, so a user running the production CLI entries
  * (`jobs.ExportCli`, `jobs.BenchJob`) got the unoptimized cache behavior
  * the bench no longer measures. Every entry point — bench, verify, CLI
  * jobs, probes — now builds through here; per-entry settings (and any
  * deliberate divergence, e.g. a probe enabling the UI) layer on top of
  * the returned builder, since a later `.config` overrides an earlier one.
  */
object SessionFactory {

  /** Capacity of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). One
    * `catalog_mix` benchmark pass compiles ~250 distinct classes and one
    * benchmark JVM ~450, so at 100 every pass evicts the previous pass's
    * classes and Janino recompiles them; 1024 is the next power of two
    * above twice that working set. A pass over the whole 255-query catalog
    * (~2,700 classes) still cycles through it; see `Bench`'s warm pass.
    */
  val CodegenCacheMaxEntries: Int = 1024

  /** The engine's required session configuration over the caller's
    * master/appName/parallelism choices:
    *
    *   - `timeZone=UTC` — the DuckDB oracle compares timestamps as UTC.
    *   - `adaptive.enabled=true` — default since 3.2, pinned so a future
    *     default flip cannot silently change every plan in the catalog.
    *   - `canChangeCachedPlanOutputPartitioning=true` (r17 opt): the engine
    *     caches multi-consumer intermediates throughout (the eager-fill
    *     discipline); without this flag every cache read is pinned to the
    *     materialized partition count even when the frame is KBs (measured
    *     10-20× pure per-task overhead on the histogram rows: 400+ tasks →
    *     ~30). Scale-adaptive by construction — AQE coalesces by BYTES, so
    *     corpus-sized caches keep their width on a real cluster.
    *   - `codegen.cache.maxEntries=`[[CodegenCacheMaxEntries]] — each
    *     generated class is compiled once per JVM instead of once per
    *     catalog pass (measured working set above). A STATIC conf: the
    *     cache is sized once, by the session active when the first class
    *     is compiled, so it must sit in the builder every entry point
    *     (Bench, Verify, ExportCli, BenchJob, perfbench) builds first.
    *
    * Parquet TIMESTAMP(NANOS) is deliberately NOT read as bigint here
    * (`spark.sql.legacy.parquet.nanosAsLong` stays off): a production
    * export of such a column fails with Spark's `PARQUET_TYPE_ILLEGAL`
    * instead of silently emitting raw nanos. The harnesses that may meet
    * NANOS-era fixtures (Bench, Verify) set the flag themselves.
    */
  def builder(master: String, appName: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toLong)
      .config("spark.ui.enabled", "false")
}
