package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive execution settings shared by every driver-facing main
  * (guide §2.2/§9). The shuffle-partition COUNT stays derived from the
  * session's core count (the driver's `$SPARK_GRAFT_CPUS` contract);
  * partition SIZING comes from AQE coalescing toward a target byte
  * size, so tiny post-shuffle frames (a graph loop's shrinking
  * per-round state, a micro-batch's 4-partition state shuffles)
  * collapse to one or two tasks while a 100 TB shuffle keeps the same
  * advisory size per partition. `parallelismFirst=false` is Spark's
  * own documented recommendation for the coalescing rule ("it's
  * recommended to set this config to false and respect the configured
  * target size") — the default `true` kept every sub-megabyte exchange
  * at partitions=cpus, which round-20's scaling probe measured as
  * ANTI-scaling (q178: 8.3 s at 32 cores vs 4.0 s at 8, VERDICT r20
  * item 5).
  *
  * Env-parameterized (not hard-coded to the local box) so a driver A/B
  * or a production deploy can override without a rebuild; the defaults
  * are Spark's advisory default (64m), not a local[32]-tuned constant.
  *
  * The `file` scheme is always served fork-free
  * (`graft.sources.LocalFs.configure`, shared with the test session):
  * Hadoop's own local filesystem forks `chmod`/`readlink` for every
  * checkpoint, log and topic file a micro-batch writes.
  */
object SessionTuning {
  def tuned(b: SparkSession.Builder): SparkSession.Builder = graft.sources.LocalFs.configure(b)
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"))
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      sys.env.getOrElse("SPARK_GRAFT_AQE_ADVISORY", "64m"))

  /** The dev mains' session: [[tuned]] on `local[cores]` with one shuffle
    * partition per core, AQE on, UTC, and the fixture's timestamp
    * reading (nanos as long, no NTZ inference). */
  def session(cores: String): SparkSession = tuned(SparkSession.builder())
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
