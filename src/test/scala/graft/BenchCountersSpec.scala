package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench]]'s per-run counters: jobs are counted under the job group they
  * ran in, untagged work is not counted, and after `drain` every event of
  * a finished run has been delivered. */
class BenchCountersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bench counters: each run's jobs land on its own group; untagged jobs are not counted") {
    val sc = spark.sparkContext
    val counters = new Bench.Counters
    sc.addSparkListener(counters)
    try {
      counters.tagged(sc, "a#1")(sc.parallelize(1 to 10, 2).count())
      sc.parallelize(1 to 10, 3).count()
      counters.tagged(sc, "b#2") {
        spark.range(1000).repartition(3).groupBy(col("id") % 7).count()
          .write.format("noop").mode("overwrite").save()
      }
      counters.drain(sc)
      assert(counters.json("a#1") === """{"jobs":1,"stages":1,"tasks":2,""" +
        """"shuffle_read_bytes":0,"shuffle_write_bytes":0}""")
      val b = counters.json("b#2")
      val Seq(jobs, stages, read, write) = Seq("jobs", "stages",
        "shuffle_read_bytes", "shuffle_write_bytes")
        .map(k => s""""$k":(\\d+)""".r.findFirstMatchIn(b).get.group(1).toLong)
      assert(jobs >= 1 && stages >= 2, b)
      assert(read > 0 && write > 0, b)
      assert(counters.json("no-such-run").contains(""""jobs":0"""))
    } finally sc.removeSparkListener(counters)
  }
}
