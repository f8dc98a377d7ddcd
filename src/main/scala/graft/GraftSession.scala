package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession set-up shared by every entry point (Bench, Verify,
  * Explain, Stretch, ConstituentDump, GraftApp) and the test base, so the
  * plans that are dumped, verified and benchmarked come from one config.
  * Callers differ only in master and cpus.
  */
object GraftSession {
  /** Janino class cache sized to the full query inventory (static conf,
    * takes effect only in the JVM's first session): the default 100
    * entries thrash under a 200+-plan interleaved sweep — every query
    * re-Janino-compiles every round, and once the JIT code cache saturates
    * those recompiles (and the regenerated methods' re-JIT) run
    * de-optimized — the r15 pipe_jsonata 12.6 s mechanism. Re-sized r17:
    * the 213-query sweep now generates ~3.7k distinct fragments
    * (diag-measured: a 2000-entry cache recompiled ~3.1k fragments in
    * round 2 — full eviction thrash, a broad +5-15% tax on every round);
    * 8000 leaves headroom for round-2 growth.
    */
  private val CodegenCacheEntries = 8000

  /** `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    // Tables' TIMESTAMP_NTZ casts go through the session TZ; UTC makes
    // them value-identical to DuckDB's naive read
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts is TIMESTAMP(NANOS)
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
    .config("spark.ui.enabled", "false")
}
