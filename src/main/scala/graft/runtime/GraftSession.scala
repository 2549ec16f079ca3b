package graft.runtime

import org.apache.spark.sql.SparkSession

/** The engine's one session definition: every main, the test session and
  * the benchmark harness build their `SparkSession` here, so a plan pinned
  * by a test is the plan `graft.Bench` times.
  *
  * Defaults are chosen for the 100 TB posture (SURVEY.md §7.7): AQE on
  * (runtime re-plan, skew-join splitting, partition coalescing), broadcast
  * threshold generous enough that dimension tables always broadcast, and a
  * shuffle-partition count that callers set per deployment (the local core
  * count for the mains, thousands on a real cluster).
  */
object GraftSession {

  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, else every processor. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE sort-merge → shuffled-hash rewrite (OPTIMIZATION_r18.md §9):
      // when every post-shuffle partition's build side fits under the
      // bound, the join skips both sorts. A per-partition bound, so it is
      // scale-adaptive by construction (more data → more partitions, bound
      // unchanged); the same value suits 4-8 GB production executors.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (256L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // spill-aware split sizing: partitions sized to fit executor memory
      // comfortably at high SF (default 128m; kept explicit so deployments
      // tune it alongside shuffle.partitions)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped as TIMESTAMP(NANOS), which Spark reads
      // only with this legacy flag (as raw nanos longs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
}
