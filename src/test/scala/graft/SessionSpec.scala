package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.Session

/** The master decision of `runtime.Session`, on plain SparkConfs: no
  * session is started (the test JVM shares one, `SparkTestBase`).
  */
class SessionSpec extends AnyFunSuite {

  test("no master supplied: local[cpus] with as many shuffle partitions") {
    assert(Session.localDefaults(new SparkConf(false), 3) ===
      Seq("spark.master" -> "local[3]", "spark.sql.shuffle.partitions" -> "3"))
  }

  test("a supplied master (spark-submit --master) is left alone") {
    val conf = new SparkConf(false).set("spark.master", "spark://head:7077")
    assert(Session.localDefaults(conf, 3).isEmpty)
  }
}
