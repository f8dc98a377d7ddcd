package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every entry point and the test base take their session from
  * `GraftSession`, so the plans that are dumped, verified, benchmarked and
  * tested come from one config.
  */
class GraftSessionSpec extends SparkTestBase {

  test("a factory session has UTC, nanosAsLong, partitions = cpus and the 8000-entry codegen cache") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8000")
  }

  test("no session is built outside GraftSession") {
    val needle = "SparkSession" + ".builder" // split so this file does not match itself
    val offenders = Seq("src/main", "src/test").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala" &&
          Files.readString(p).contains(needle))
        .map(_.toString).toSeq
    }
    assert(offenders.isEmpty,
      "build sessions with GraftSession.builder instead:\n" + offenders.mkString("\n"))
  }
}
