package org.apache.spark

import java.io.File

import org.apache.spark.util.ShutdownHookManager

/** Test access to Spark's `private[spark]` registry of directories its
  * shutdown hook deletes at JVM exit.
  */
object ShutdownDeleteDirs {
  def registered(dir: File): Boolean = ShutdownHookManager.hasShutdownDeleteDir(dir)
}
