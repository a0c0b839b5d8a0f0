package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[LoopConf.fixpoint]]: the stop rule, the cap and its one-step exactness
 * check, the `empty` exit, and the cost of a round (one SQL execution: the
 * probe materializes the round's lazy checkpoint).
 */
class LoopConfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Toy loop over ids 0..n-1: round r keeps `x < max(n - r, floor)`, so the
    * count drops by one per round until it reaches `floor`. */
  private def shrinking(n: Long, floor: Long, maxRounds: Int = Int.MaxValue,
                        empty: Long => Boolean = _ => false): (DataFrame, Int) = {
    var rounds = 0
    val out = LoopConf.fixpoint("toy loop", spark.range(n).toDF("x"), maxRounds,
        empty)(_.count()) { s =>
      rounds += 1
      s.filter(col("x") < math.max(n - rounds, floor))
    }
    (out, rounds)
  }

  test("fixpoint: a probe that never repeats fails, naming the loop and the cap") {
    val err = intercept[IllegalArgumentException](shrinking(100, 0, maxRounds = 3))
    assert(err.getMessage.contains("toy loop did not converge in 3 rounds"), err.getMessage)
  }

  test("fixpoint: a loop stable exactly one step past the cap passes") {
    // counts 10 -> 9, 8, 7, 6, 6: four changing rounds, the fifth repeats
    val (out, rounds) = shrinking(10, 6, maxRounds = 4)
    assert(rounds === 5)
    assert(out.count() === 6L)
    // one round less of cap and the exactness step still changes the probe
    intercept[IllegalArgumentException](shrinking(10, 6, maxRounds = 3))
    // uncapped: the same five rounds
    assert(shrinking(10, 6)._2 === 5)
  }

  test("fixpoint: an empty probe value stops without a confirming round") {
    val (out, rounds) = shrinking(3, 0, empty = _ == 0L)
    assert(rounds === 3 && out.isEmpty)
    assert(shrinking(3, 0)._2 === 4)
  }

  test("fixpoint: R rounds cost exactly R + 1 SQL executions") {
    // A lazy localCheckpoint is itself a SQL execution that runs no job, so
    // a QueryExecutionListener alone cannot tell a fused round from one that
    // materializes its checkpoint separately. This listener records every
    // SQL execution (id and the action that started it, from its call site)
    // and the SQL execution id of every job.
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val jobExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => jobExecs.add(id.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          started.add(s.executionId -> s.description.takeWhile(_ != ' '))
        case end: SparkListenerSQLExecutionEnd => ended.add(end.executionId)
        case _ =>
      }
    }
    // Events arrive asynchronously and in order: a `collect` on each side
    // brackets exactly the executions the loop submitted.
    def marker(): Unit = spark.range(1).collect()
    spark.sparkContext.addSparkListener(listener)
    val (rounds, window) = try {
      marker()
      val rounds = shrinking(10, 6)._2
      marker()
      def all = started.toArray(Array.empty[(Long, String)]).toSeq
      def markers = all.filter(_._2 == "collect")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!(markers.size == 2 && ended.contains(markers(1)._1)) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
      (rounds, all.dropWhile(_._2 != "collect").drop(1).takeWhile(_._2 != "collect"))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rounds === 5)
    // the executions that ran work are the R + 1 probes (state0's and one
    // per round); each round's lazy localCheckpoint is an execution that
    // runs no job — an eager one would add a materialization per round
    val ran = window.filter(e => jobExecs.contains(e._1)).map(_._2)
    assert(ran === Seq.fill(rounds + 1)("count"), s"executions that ran jobs: $ran")
    assert(window.count(_._2 == "localCheckpoint") === rounds, s"executions: $window")
  }

  test("kCore: a 60-node path peels to empty at k = 2 in 30 uncapped rounds") {
    val s = spark
    import s.implicits._
    val path = (0L until 59L).map(i => (i, i + 1)).toDF("p1", "p2")
    assert(graft.graph.Covisit.kCore(path, 2).isEmpty)
  }
}
