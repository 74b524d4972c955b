package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM via Test/fork; the
  * session is created once and reused — spinning a session per suite
  * would dominate test wall-clock).
  */
object SparkSpec {
  lazy val spark: SparkSession = Engine.local(4)
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = SparkSpec.spark

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh directory under `java.io.tmpdir`, deleted recursively when
    * the suite ends — after its streaming queries have stopped, so no
    * sink still writes into it.
    */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try {
      spark.streams.active.foreach(_.stop())
      tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    } finally super.afterAll()
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types.StructType

  /** Build a small DataFrame from rows + DDL schema. */
  def df(ddl: String, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  /** `body`'s result and the number of Spark jobs it started. The
    * listener bus is drained before the listener is added and before it
    * is read, so no other action's job is counted and none of `body`'s
    * is missed.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBusDrain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Rows as a set of per-column Seq (order-insensitive compare). */
  def rowSet(d: DataFrame): Set[Seq[Any]] =
    d.collect().map(_.toSeq).toSet
}
