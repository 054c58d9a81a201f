package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfSmoke = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfSmoke

  /** A fresh session on the shared SparkContext, built with `install`'s
    * extensions; the shared session stays the default and active one, so
    * it remains the extension-free reference for the other suites.
    */
  protected def siblingSession(install: SparkSessionExtensions => Unit): SparkSession = {
    val shared = spark
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder().withExtensions(install).getOrCreate()
      assert(s ne shared, "expected a fresh session honoring withExtensions")
      s
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  /** Run `body` with `kvs` set in each of `sessions`, unsetting them after. */
  protected def withConf[T](sessions: Seq[SparkSession], kvs: (String, String)*)(body: => T): T = {
    sessions.foreach(s => kvs.foreach { case (k, v) => s.conf.set(k, v) })
    try body finally sessions.foreach(s => kvs.foreach { case (k, _) => s.conf.unset(k) })
  }

  /** Spark jobs launched by `body` on this thread in `s`'s context,
    * counted once the listener bus has drained. */
  protected def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val key = "graft.test.jobs"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == "on") jobs.incrementAndGet()
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "on")
    try body
    finally {
      sc.setLocalProperty(key, null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Recursive directory copy — crash-simulation helper: snapshot a
    * generation directory aside so a test can restore it after a
    * compaction, faithfully reproducing a cleanup interrupted before
    * that input's deletion.
    */
  protected def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    scala.util.Using.resource(java.nio.file.Files.walk(src)) { s =>
      s.forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else {
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
}
