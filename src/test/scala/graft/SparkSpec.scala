package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local-session fixture for operator specs. One session per JVM
  * (scalatest forks a single JVM per `sbt test`); small parallelism keeps
  * spec latency low. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  private val tmpDirs =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** Tracked temp directory: removed in afterAll so per-test staging
    * parquet/checkpoint dirs don't leak disk across runs (r12 ADVICE). */
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.synchronized { tmpDirs += p }
    p.toString
  }

  override def afterAll(): Unit = {
    tmpDirs.synchronized {
      tmpDirs.foreach { p =>
        try {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(p)
          val files = try walk.iterator().asScala.toSeq.reverse
                      finally walk.close()
          files.foreach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: java.io.IOException => () } // best-effort
      }
      tmpDirs.clear()
    }
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.Sessions.local(
    appName = "graft-test", cores = "4")
}
