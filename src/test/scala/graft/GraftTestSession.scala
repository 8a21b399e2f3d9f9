package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (single JVM under sbt). */
object GraftTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with every test table read as several splits. A
    * one-split table loaded through `Tables.interactive` plans as a
    * single partition and needs no shuffle, so a plan-shape test about
    * its shuffles loads, plans and runs its input in here (the split
    * rule honours maxPartitionBytes). */
  def multiSplit[T](body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "4096")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
