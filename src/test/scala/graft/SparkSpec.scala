package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object SparkSpec {
  lazy val spark: SparkSession = {
    System.setProperty("derby.system.home", "/tmp/graft_derby")
    GraftSession.local(4, appName = Some("graft-test"),
      warehouseDir = Some("/tmp/graft_warehouse"))
  }

  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the system temp dir, named `prefix…`. It
    * and everything written under it are deleted after the suite (a
    * test may delete it first). Every temp file a spec makes lives in
    * one of these. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach { d =>
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p): Unit)
        finally walk.close()
      }
    }
    finally super.afterAll()

  /** Run `body` with SQL confs temporarily set, restoring prior values
    * after (the session is shared JVM-wide across suites). */
  def withSQLConf[A](confs: (String, String)*)(body: => A): A = {
    // Option(...) guards optional confs whose get returns NULL (e.g.
    // spark.sql.adaptive.autoBroadcastJoinThreshold): restoring a null
    // via set() throws — such keys restore via unset instead
    val prior = confs.map { case (k, _) =>
      k -> scala.util.Try(Option(spark.conf.get(k))).toOption.flatten
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
