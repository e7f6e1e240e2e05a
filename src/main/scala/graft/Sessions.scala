package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory. Every main and every test suite
  * builds its SparkSession here, so the bench, the verify dump, the plan
  * printer and the specs that pin plan shapes all run the same settings.
  * Suites that test a non-default SQL setting change it with
  * `spark.conf.set` on the session this returns.
  */
object Sessions {

  /** Worker threads of a local session: `SPARK_GRAFT_CPUS` when set,
    * else every processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with one shuffle partition per core (AQE,
    * on by default, coalesces down from there). Idempotent while a
    * session is active: `getOrCreate` hands back the running one. */
  def local(cores: Int = cpus): SparkSession = {
    require(cores > 0, s"cores must be > 0: $cores")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("candiaspark")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), which Spark 4 rejects by
      // default; read it as long (ns since epoch), which keeps the order
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // let AQE re-plan (and coalesce tiny shuffles) inside cached plans
      // too: the iterative loops persist each generation, and without
      // this every tiny iteration keeps the full shuffle fan-out
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
