package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One timed call of the program: its wall seconds (release included for
  * queries), release seconds, error if it threw, and its Spark counters
  * when the run is traced. `step` groups calls into the unit the suite
  * metrics count (a query, or one step of the BAG flow). */
final case class OpRun(name: String, layer: String, step: String, wallS: Double,
    releaseS: Double, error: Option[String], counters: Option[Counters])

/** State shared by one benchmark process: the session, the tracing
  * switches and the tally of attempted and failed operations. An
  * operation is a timed call or an output check; it fails when the call
  * throws or the check does not match. */
final class Run(val spark: SparkSession, val workDir: String, val seed: Long,
    val spans: Spans) {
  var meter: Option[Meter] = None
  var attempted = 0L
  val failures = ArrayBuffer[String]()

  def failed: Long = failures.length.toLong

  /** Failed operations over attempted ones. */
  def failedFrac: Double = failed.toDouble / math.max(1L, attempted)

  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) failures += s"$what: $detail"
  }

  /** Times `body` as one operation, inside a span named `name`. With
    * `release`, the session's tracked resources are freed inside the
    * timed window, as the program's own bench does between queries. */
  def op(name: String, layer: String, release: Boolean = false, step: String = "")(body: => Unit): OpRun = {
    attempted += 1
    var err: Option[String] = None
    var releaseS = 0.0
    def call(): Unit = spans(name) {
      try spans(s"$name/run")(body)
      catch { case e: Throwable => err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (release) {
        val r0 = System.nanoTime()
        spans(s"$name/release")(graft.SessionResources.release(spark))
        releaseS = (System.nanoTime() - r0) / 1e9
      }
    }
    val t0 = System.nanoTime()
    val counters = meter match {
      case Some(m) => Some(m.measure(call()))
      case None => call(); None
    }
    val wall = counters.map(_.wallS).getOrElse((System.nanoTime() - t0) / 1e9)
    err.foreach(e => failures += s"$name: ${e.take(300)}")
    OpRun(name, layer, if (step.isEmpty) name else step, wall, releaseS, err, counters)
  }
}
