package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: the mains' session (UTC, extensions installed) on a
  * fixed 4 cores, so a suite's plans do not depend on the test box or on
  * which suite ran first in the forked JVM. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  val sf: String = "/root/testdata/sf0.001"
}
