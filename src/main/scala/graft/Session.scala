package graft

import org.apache.spark.sql.SparkSession

/** The one way to build an engine session: every entry point (Bench,
  * Verify, RunOne, PlanDump, AnnRecall, ScaleSmoke) and the test session
  * come through here, so they all run the same engine-wide settings.
  *
  * Usage: `val spark = Session()` on [[cores]] cores, or `Session(2)`.
  */
object Session {
  /** Cores of a session: `SPARK_GRAFT_CPUS` when set, otherwise every
    * core of the host. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` session with the engine's extensions installed, one
    * shuffle partition per core, the session time zone pinned to UTC, no
    * UI, and WARN logging. Returns the active session, reconfigured, when
    * one exists. */
  def apply(cores: Int = Session.cores): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      // Honor the advisory partition-size target when AQE coalesces, as
      // Spark's docs recommend ("respect the configured target size"). With
      // the default true, every sub-target shuffle is still split into
      // defaultParallelism reduce tasks, so iterative/tiny-stage operators
      // pay cores-many empty tasks per exchange (the measured
      // 8c-faster-than-32c inversions). Operators whose rows expand after an
      // exchange (the capped pair finders) are not merged onto one core by
      // this: they carry their own partition floor (`Dedup.partitionFloor`).
      // Scale-neutral: at real data volumes the 64MB advisory target governs.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
