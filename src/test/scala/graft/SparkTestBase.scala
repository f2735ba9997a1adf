package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh directory under `java.io.tmpdir`, deleted with everything
    * in it after the suite's last test. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d.toFile)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => Scratch.delete(d)) finally super.afterAll()

  /** Structural hash over every model-defining tree array — the one
    * bit-identity comparator for "these two trainings produced the
    * same model" assertions (keep the field list exhaustive: a weaker
    * variant can claim identity while e.g. left/right differ). */
  def modelStructureHash(m: graft.learner.GraftModel): Int = {
    var h = m.trees.length
    m.trees.foreach { t =>
      h = 31 * h + java.util.Arrays.hashCode(t.feature)
      h = 31 * h + java.util.Arrays.hashCode(t.thresholdBin)
      h = 31 * h + java.util.Arrays.hashCode(t.threshold)
      h = 31 * h + java.util.Arrays.hashCode(t.defaultLeft)
      h = 31 * h + java.util.Arrays.hashCode(t.left)
      h = 31 * h + java.util.Arrays.hashCode(t.right)
      h = 31 * h + java.util.Arrays.hashCode(t.value)
    }
    h
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
