package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Served artifacts are built once per (sf-dir, family) per JVM, into one
  * root that belongs to this JVM alone. */
class ArtifactsSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def mtimes(dir: String): Map[Path, Long] = {
    val files = Files.walk(Paths.get(dir))
    try files.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f -> Files.getLastModifiedTime(f).toMillis).toMap
    finally files.close()
  }

  test("a second call for the same sf-dir serves the first build, unrewritten") {
    val first = Artifacts.keyProfile(spark, sfDir)
    val before = mtimes(first)
    assert(before.nonEmpty)
    assert(Artifacts.keyProfile(spark, sfDir) == first)
    assert(mtimes(first) == before)
  }

  test("families and sf-dirs get distinct paths under one per-JVM root in java.io.tmpdir") {
    val copy = Files.createTempDirectory("artifacts-spec-")
    try {
      Files.copy(Paths.get(s"$sfDir/events.parquet"),
        copy.resolve("events.parquet"))
      val paths = Seq(sfDir, copy.toString).flatMap(d =>
        Seq(Artifacts.keyProfile(spark, d), Artifacts.seasonalProfile(spark, d)))
      assert(paths.distinct.size == 4, paths)
      // <root>/<family dir>/profile
      val roots = paths.map(p => Paths.get(p).getParent.getParent).distinct
      assert(roots.size == 1, roots)
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      assert(roots.head.getParent == tmp)
      assert(roots.head.getFileName.toString.startsWith("graft-artifacts-"))
      assert(roots.head != tmp.resolve("graft-artifacts"))
    } finally {
      Files.deleteIfExists(copy.resolve("events.parquet"))
      Files.delete(copy)
    }
  }
}
