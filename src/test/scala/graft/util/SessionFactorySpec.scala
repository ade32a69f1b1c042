package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** Every `main` in src/main builds its SparkSession through
  * [[Tables.session]]. A source scan (the ReadmeCountersSpec style) keeps
  * it that way: a second builder or a second read of the sizing env vars
  * is how the mains drifted apart before (three CPU defaults, two log
  * levels).
  */
class SessionFactorySpec extends AnyFunSuite {

  private def mainSources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f.toString -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
  }

  test("src/main has one SparkSession builder and one read of each sizing env var") {
    val srcs = mainSources
    assert(srcs.nonEmpty, "no sources under src/main — run from the repo root")
    def hits(needle: String): Seq[String] = srcs.flatMap { case (f, src) =>
      Seq.fill(java.util.regex.Pattern.quote(needle).r.findAllMatchIn(src).size)(f)
    }
    val tables = "src/main/scala/graft/util/Tables.scala"
    assert(hits("SparkSession.builder") == Seq(tables))
    assert(hits("\"SPARK_GRAFT_CPUS\"") == Seq(tables))
    assert(hits("\"SPARK_GRAFT_SHUFFLE_PARTITIONS\"") == Seq(tables))
  }

  test("a factory session carries every sessionConfigs entry and shuffle partitions = cpus") {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session("graft-session-factory-test")
    try {
      assert(spark.sparkContext.master == s"local[$cpus]")
      Tables.sessionConfigs.foreach { case (k, v) =>
        assert(spark.conf.get(k) == v, s"session conf $k")
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") ==
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      assert(spark.conf.get("spark.ui.enabled") == "false")
    } finally spark.stop()
  }
}
