package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (forked test JVM): the
  * [[GraftSession]] contract on 4 cores, with exactly one override. */
object TestSession {
  /** The keys this session sets differently from [[GraftSession.conf]].
    * The small-scan fan-out stays off so plan-shape specs audit the at-scale
    * plan, where the fan-out never fires (e.g. IncrementalDedupSpec's
    * shuffle-free signing). */
  val overrides: Map[String, String] =
    Map("spark.graft.parallelizeSmallScans" -> "false")

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4")
      .appName("graft-tests")
      .config(overrides)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark

  private var tempRoot: Option[Path] = None

  /** A fresh directory under this suite's own root in `java.io.tmpdir`;
    * the root and everything under it is deleted after the suite. */
  def tempDir(prefix: String): Path = synchronized {
    val root = tempRoot.getOrElse(Files.createTempDirectory(s"graft-spec-${getClass.getSimpleName}-"))
    tempRoot = Some(root)
    Files.createTempDirectory(root, prefix)
  }

  /** Run `f` with the session's `key` set to `value`, or unset for None,
    * then put the key back as the session had it. `getAll` lists only keys
    * set on the session, where `getOption` also returns Spark's defaults. */
  def withConf[A](key: String, value: Option[String])(f: => A): A = {
    val before = spark.conf.getAll.get(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try f finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempRoot.foreach(r => new scala.reflect.io.Directory(r.toFile).deleteRecursively())
}
