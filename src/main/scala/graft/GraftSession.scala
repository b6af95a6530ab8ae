package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session's config is written down. Every main
  * and the test session start from this builder and add only their own
  * `getOrCreate` and log level:
  *
  *   - `local[cores]`, one shuffle partition per core;
  *   - GraftExtensions (REQUIRED — kernel call sites call their
  *     `graft_*` expression unconditionally);
  *   - UTC session time zone and legacy (non-ANSI) semantics:
  *     malformed cast / to_timestamp → null, matching the oracle's
  *     TRY_-style functions (SURVEY §7.5);
  *   - dynamic partition overwrite — every partitioned overwrite-insert
  *     is a per-partition replace (Writer.ensureDynamicOverwrite doc),
  *     set at startup so the library never mutates conf mid-run;
  *   - Spark UI off.
  */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
}
