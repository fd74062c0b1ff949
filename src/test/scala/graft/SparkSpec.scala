package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared ScalaTest base: one SparkSession per test JVM. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", cpus = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SharedSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The messages of `e` and its causes: a failed task's own error
    * reaches the driver wrapped in Spark's job and file-read errors.
    */
  def causeMessages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
}

/** Hands out KV stores that are dropped after each test, so a suite's
  * stores do not outlive it in the JVM-wide registry.
  */
trait KvStores extends org.scalatest.BeforeAndAfterEach { this: org.scalatest.Suite =>
  private val made = scala.collection.mutable.ArrayBuffer.empty[graft.serve.KpiSink.InMemoryKvStore]

  def newStore(throttleFirstN: Int = 0): graft.serve.KpiSink.InMemoryKvStore = {
    val store = new graft.serve.KpiSink.InMemoryKvStore(throttleFirstN)
    made += store
    store
  }

  override def afterEach(): Unit =
    try { made.foreach(_.drop()); made.clear() } finally super.afterEach()
}
