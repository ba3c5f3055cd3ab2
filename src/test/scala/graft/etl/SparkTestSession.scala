package graft.etl

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM: [[graft.Session]]
  * pinned to `local[4]`, 4 shuffle partitions and no env overrides. */
object SparkTestSession {
  lazy val get: SparkSession = graft.Session(cores = 4, overrides = Nil)
}
