package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite's session: the bench's session ([[Sessions.local]]) on `cpus`
  * cores, built on first use and stopped after the suite. A suite that
  * needs another runtime conf sets it with `withConf` or `spark.conf.set`.
  */
trait SessionSuite extends BeforeAndAfterAll { this: Suite =>

  protected def cpus: Int = 4

  lazy val spark: SparkSession = Sessions.local(cpus)

  /** Runs `body` with the runtime conf `key` set to `value`, restoring
    * the previous setting afterwards.
    */
  protected def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()
}
