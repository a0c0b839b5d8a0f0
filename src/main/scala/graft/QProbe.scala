package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/**
 * Per-query measurement probe (optimization-guide §1: measure first).
 *
 * Runs named queries through the same noop-sink methodology as [[Bench]],
 * but additionally counts Spark JOBS, STAGES and TASKS per run and
 * reports total shuffle bytes — the numbers that say whether a slow
 * query is shuffle-bound or scheduling-bound (many tiny fixpoint rounds).
 *
 * Usage: runMain graft.QProbe <sfDir> <q1,q2,...> [repeats]
 * Prints one JSON line per query:
 *   {"q":name,"sec":[...],"jobs":n,"stages":n,"tasks":n,
 *    "shuffle_read_mb":x,"shuffle_write_mb":x}
 * (counters are for the LAST repeat — the steady-state shape.)
 */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val repeats = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.get()

    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var shufRead = 0L
    @volatile var shufWrite = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufRead += m.shuffleReadMetrics.totalBytesRead
          shufWrite += m.shuffleWriteMetrics.bytesWritten
        }
        if (sys.env.contains("QPROBE_STAGES")) {
          val ms = for {
            st <- s.stageInfo.completionTime
            b <- s.stageInfo.submissionTime
          } yield st - b
          System.err.println(f"[stage] id=${s.stageInfo.stageId}%4d " +
            f"wall=${ms.getOrElse(-1L)}%6dms tasks=${s.stageInfo.numTasks}%4d " +
            f"exec=${if (m != null) m.executorRunTime else -1}%7dms " +
            f"deser=${if (m != null) m.executorDeserializeTime else -1}%6dms " +
            f"gc=${if (m != null) m.jvmGCTime else -1}%5dms " +
            s"name=${s.stageInfo.name.take(40)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)

    // session warm-up: same as Bench
    try {
      Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
        "region", "events", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").write.format("noop")
          .mode("overwrite").save()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[qprobe] warm-up failed: ${e.getMessage}")
    }

    val all = queries.Queries.all.toMap
    names.foreach { name =>
      all.get(name) match {
        case None => System.err.println(s"[qprobe] unknown query: $name")
        case Some(fn) =>
          val secs = (1 to repeats).map { i =>
            if (i == repeats) { jobs = 0; stages = 0; tasks = 0; shufRead = 0; shufWrite = 0 }
            val t0 = System.nanoTime()
            try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              System.err.println(s"[qprobe] $name failed: ${e.getMessage}")
            }
            SessionResources.release(spark)
            (System.nanoTime() - t0) / 1e9
          }
          // give the listener bus a moment to drain before reading counters
          Thread.sleep(200)
          val secsJson = secs.map(s => f"$s%.3f").mkString("[", ",", "]")
          println(s"""{"q":"$name","sec":$secsJson,"jobs":$jobs,"stages":$stages,""" +
            f""""tasks":$tasks,"shuffle_read_mb":${shufRead / 1e6}%.1f,""" +
            f""""shuffle_write_mb":${shufWrite / 1e6}%.1f}""")
      }
    }
    spark.stop()
  }
}
