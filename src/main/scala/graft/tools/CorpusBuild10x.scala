package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The composed end-to-end corpus-build demo at the 10x "sf1" synthesis
 * (r11 verdict ask #6): the LLM-surface operators chained the way a real
 * pretraining-corpus build runs them, as ONE lineage —
 *
 *   quality gate  (TextOps.qualityStats >= 0.2 — the Gopher-style filter)
 *   -> exact dedup (keep-first via the arg_max hash aggregate, no window)
 *   -> decontamination (shingle-overlap anti-join against a held-out
 *      "benchmark" split — the eval-leakage guard)
 *   -> stratified sample (deterministic md5 bucket, per-language rates)
 *   -> sequence packing (greedy token-budget packer, one shuffle on the
 *      stratum key)
 *
 * Emits ONE JSON line (wall seconds per run + output cardinalities) and
 * writes the formatted physical plan of the whole chain to the file given
 * as arg 1 (committed as CORPUS_BUILD_10X.md). Cardinalities are asserted
 * non-degenerate so the timing can't silently measure an empty pipeline.
 *
 * Run: sbt "runMain graft.tools.CorpusBuild10x [planOut] [reps]"
 */
object CorpusBuild10x {

  /** The chain as one DataFrame — the registered, DuckDB-oracled
    * `x44_corpus_build` pipeline (Queries.x44Chain: quality gate ->
    * arg_max exact dedup -> w=5 family-holdout decontamination ->
    * stratified sample -> greedy packing); this tool times it at the
    * 10x synthesis and commits the plan. The held-out benchmark splits
    * by BASE-document family (doc_id % 1e7): the synthesis rotates each
    * source doc's words, and a rotated sibling shares nearly all
    * shingles with its original — a raw-id split would put every bench
    * doc's siblings in train and the decontamination stage would
    * (correctly!) flag ~100% of the corpus. */
  def chain(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Queries.x44Chain(spark, dir)

  def main(args: Array[String]): Unit = {
    val planOut = args.headOption.getOrElse("CORPUS_BUILD_10X.md")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    // scale = 10 (default) or 100: the 100x corpus (500k docs) is the
    // 10x documents rotated 10 more times (offsets k*1e8 keep the
    // base-family split's doc_id % 1e7 grouping and the <1e7 bench
    // membership intact), giving the chain's scaling datapoint
    val scale = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.get()
    val base10 = "/tmp/sf1_synth"
    if (!new java.io.File(s"$base10/documents.parquet").exists()) {
      println("[corpus] synthesizing 10x sf0.1 at " + base10)
      graft.ScaleProbe.synth10x(spark, "/root/testdata/sf0.1", base10)
    }
    val big = if (scale <= 10) base10 else {
      val b = "/tmp/sf1_synth_100x"
      if (!new java.io.File(s"$b/documents.parquet").exists()) {
        println("[corpus] synthesizing 100x sf0.1 at " + b)
        val d10 = spark.read.parquet(s"$base10/documents.parquet")
        (0 until 10).map { k =>
          d10.withColumn("doc_id", col("doc_id") + lit(k * 100000000L))
            .withColumn("__w", split(col("text"), " "))
            .withColumn("text", concat_ws(" ",
              concat(slice(col("__w"), lit(29 * k + 1), lit(100000)),
                slice(col("__w"), 1, 29 * k))))
            .drop("__w")
        }.reduce(_ unionByName _).repartition(32)
          .write.mode("overwrite").parquet(s"$b/documents.parquet")
      }
      b
    }
    def loadavg: Double = scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ").head.toDouble).getOrElse(-1.0)

    val load0 = loadavg
    // warm-up (JIT + codegen + page cache), then timed reps
    chain(spark, big).write.format("noop").mode("overwrite").save()
    val walls = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      chain(spark, big).write.format("noop").mode("overwrite").save()
      graft.SessionResources.release(spark)
      (System.nanoTime() - t0) / 1e9
    }

    // non-degeneracy audit + plan dump on one final materialization
    val out = chain(spark, big)
    val packed = out.count()
    val nDocs = spark.read.parquet(s"$big/documents.parquet").count()
    require(packed > 1000, s"degenerate pipeline: only $packed packed rows")
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val md = new StringBuilder
    md.append(s"# CORPUS_BUILD_10X — the composed corpus-build chain at the ${scale}x synthesis\n\n")
    md.append("Generated by `sbt \"runMain graft.tools.CorpusBuild10x\"` over\n")
    md.append(s"$big (rotated-text synthesis at ${scale}x sf0.1 —\n")
    md.append(s"$nDocs docs). Chain: quality gate -> exact dedup (arg_max) ->\n")
    md.append("decontaminate (broadcast shingle anti-join vs a held-out 1% split)\n")
    md.append("-> stratified sample -> token-budget packing. One lineage, one\n")
    md.append("plan: no collect between stages, dedup is ONE hash aggregate, the\n")
    md.append("decontamination bench side is broadcast (eval sets are small by\n")
    md.append("nature), packing is the single stratum-key shuffle.\n\n")
    md.append(f"Walls (${walls.size} reps after warm-up): ")
    md.append(walls.map(w => f"$w%.2f s").mkString(", "))
    md.append(f"%n%nPacked rows: $packed%d from $nDocs%d input docs.%n%n```%n")
    md.append(plan.take(16000))
    md.append("\n```\n")
    Files.writeString(Paths.get(planOut), md.toString)

    println(s"""{"metric":"corpus_build_${scale}x_sec","value":${f"${walls.min}%.2f"},""" +
      s""""unit":"sec","walls":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
      s""""packed_rows":$packed,"input_docs":$nDocs,""" +
      f""""loadavg_start":$load0%.2f,"loadavg_end":$loadavg%.2f}""")
    spark.stop()
  }
}
