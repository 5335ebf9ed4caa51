package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session contract cannot drift: every main builds through
  * [[GraftSession]], the benchmark of record times the same settings, and
  * the test session differs only by its documented override. */
class SessionContractSpec extends SparkSpec {

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("only GraftSession calls SparkSession.builder in src/main") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val builders = files.filter(f => read(f).contains("SparkSession.builder"))
      .map(_.getFileName.toString)
    assert(builders == List("GraftSession.scala"))
  }

  test("the benchmark's session sets every GraftSession.conf entry") {
    // read as text: the benchmark builds its own session and is not a
    // dependency of this project
    val bench = read(Paths.get("flightbench/src/main/scala/graftbench/Main.scala"))
    val missing = GraftSession.conf.filterNot { case (k, v) =>
      bench.contains(s""".config("$k", "$v")""")
    }
    assert(missing.isEmpty, s"flightbench session lacks $missing")
  }

  test("TestSession runs GraftSession.conf except its one override") {
    assert(TestSession.overrides.keySet == Set("spark.graft.parallelizeSmallScans"))
    val expected = GraftSession.conf ++ TestSession.overrides +
      ("spark.sql.shuffle.partitions" -> "4")
    val actual = expected.keys.map(k => k -> spark.conf.get(k)).toMap
    assert(actual == expected)
    assert(spark.sparkContext.master == "local[4]")
  }
}
