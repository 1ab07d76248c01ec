package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (sf0.001 data). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` with the given runtime confs set, restoring previous
    * values (or unsetting) afterwards — for tests that need
    * non-default session config on the shared session. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` with a fresh temp dir named after `prefix`, deleted
    * afterwards. */
  def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  // Pinned at 4, not SPARK_GRAFT_CPUS, so the suite plans with the
  // same shuffle partition count on any host.
  lazy val session: SparkSession = GraftSession.local(4)
}
