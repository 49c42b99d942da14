package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Scratch directories for operators that stage data on local disk
  * (the ingest round trips, the stored MV, the replay and streaming
  * index stages). The frames they return read those files lazily, so a
  * directory must outlive the call that made it; it cannot outlive the
  * application. Every directory is made under one root per
  * SparkContext. The root is created on the first request, so an
  * application that never stages pays nothing, and it is deleted with
  * everything under it when the context stops (the listener bus
  * delivers the application-end event before `stop()` returns).
  */
object Scratch {

  private val roots = new ConcurrentHashMap[SparkContext, Path]()

  /** A fresh, empty directory under `spark`'s scratch root, its name
    * starting with `prefix`. */
  def dir(spark: SparkSession, prefix: String): String =
    Files.createTempDirectory(root(spark.sparkContext), prefix).toString

  /** `sc`'s scratch root, if a directory has been asked for since it
    * started. */
  private[graft] def rootOf(sc: SparkContext): Option[Path] = Option(roots.get(sc))

  private def root(sc: SparkContext): Path = roots.computeIfAbsent(sc, { _ =>
    val r = Files.createTempDirectory(s"graft-app-${sc.applicationId}-")
    sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        roots.remove(sc)
        delete(r)
      }
    })
    r
  })

  /** Deletes `p` and everything under it, children first. */
  private def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }
}
