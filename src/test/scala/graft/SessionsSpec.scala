package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `Sessions.local` is the only place the engine's session settings
  * live: pin what it sets, and fail on any new hand-rolled builder in
  * the source tree, so the per-main and per-suite drift cannot return. */
class SessionsSpec extends SparkSuite(2) {

  test("the factory sets the engine's session settings") {
    val conf = spark.conf
    spark.sparkContext.master shouldBe "local[2]"
    conf.get("spark.sql.shuffle.partitions") shouldBe "2"
    conf.get("spark.ui.enabled") shouldBe "false"
    conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") shouldBe
      "true"
    conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString shouldBe
      "WARN"
  }

  test("local is idempotent while a session is active") {
    (Sessions.local(2) eq spark) shouldBe true
  }

  test("cpus reads SPARK_GRAFT_CPUS, else every available processor") {
    val want = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    Sessions.cpus shouldBe want
  }

  test("no session builder outside Sessions and the two static-conf suites") {
    // spelled in two pieces so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val allowed = Set(
      "Sessions.scala",            // the factory
      "RetrySafetySpec.scala",     // needs the local[4, 3] retry budget
      "GraftExtensionsSpec.scala") // tests the static spark.sql.extensions
    val src = Paths.get("src")
    withClue("tests run from the repository root: ") {
      Files.isDirectory(src) shouldBe true
    }
    val files = Files.walk(src)
    val offenders =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
        .map((p: Path) => p.getFileName.toString)
        .filterNot(allowed)
        .toList
      finally files.close()
    offenders shouldBe empty
  }
}
