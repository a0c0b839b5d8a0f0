package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan regression guards: the "would this survive a 100x scale-up"
 * properties, asserted as executable checks instead of review comments.
 *
 * These run against sf0.001 but assert *plan shape*, which is
 * scale-invariant for a fixed query: filter/column pushdown into the scan,
 * broadcast (not shuffle) joins for dimension tables, no cartesian products
 * in any registered query, and no dimension-side shuffle exchanges where a
 * broadcast was intended.
 */
@graft.SlowTest
class PlanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): SparkPlan = {
    df.collect() // force AQE to finalize the adaptive plan
    df.queryExecution.executedPlan
  }
  private def planString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("s05: filter and projection are pushed into the parquet scan") {
    val p = planString(CoreQueries("s05_scan_project")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)]"),
      s"filter not pushed:\n$p")
    // column pruning: the 11-column lineitem scan reads exactly 4 columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double>"), s"columns not pruned:\n$p")
  }

  test("s08: the partitioned readback prunes to the selected lang directories") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune_spec").toString
    Queries.tbl(spark, sf, "documents").write.mode("overwrite")
      .partitionBy("lang").parquet(tmp)
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(tmp).filter(col("lang").isin("en", "fr"))
      .select(col("doc_id"), col("lang"))
    val p = planString(df)
    // the lang predicate is a PartitionFilter (directory pruning), never a
    // row-level PushedFilter that would open every language's files
    assert(p.contains("PartitionFilters: [lang"), s"no partition filter:\n$p")
    assert(p.contains("PushedFilters: []"), s"lang leaked to row-level filters:\n$p")
    // the executed scan's pruned listing contains only the en/fr directories
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val dirs = scan.selectedPartitions.toPartitionArray
      .map(_.filePath.toString.replaceAll(".*/(lang=[^/]+)/.*", "$1")).distinct.sorted
    assert(dirs.toSeq == Seq("lang=en", "lang=fr"), s"scanned partitions: ${dirs.toSeq}")
  }

  test("a17: global top-N runs TakeOrderedAndProject, never a full sort") {
    val p = planString(AnalyticsQueries("a17_global_topn")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
  }

  test("j01: dimensions broadcast; only the fact-fact join shuffles") {
    val p = planString(CoreQueries("j01_join_5way")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"))
    // exactly one shuffle join pair (lineitem-orders); customer/nation/region
    // must not introduce SortMergeJoins
    val smj = "SortMergeJoin".r.findAllIn(p).length
    val shj = "ShuffledHashJoin".r.findAllIn(p).length
    assert(smj + shj <= 1, s"expected <=1 shuffled join, got $smj SMJ + $shj SHJ:\n$p")
  }

  test("f06: anti-join against the filtered dim is broadcast, fact never shuffles") {
    val p = planString(CoreQueries("f06_orphan_delete")(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("no registered query contains a cartesian product (LSH/inverted-index paths included)") {
    // no exemptions: even the quadratic oracle baseline v02 runs the
    // block-grid kernel (cell-replicated flatMapGroups — quadratic in
    // work by construction, but never a CartesianProduct join node)
    Queries.all.foreach { case (name, fn) =>
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
    }
  }

  test("t20: the hashed quality classifier is pure map — no exchange, no join") {
    // direct operator form (the registered query adds the determinism
    // orderBy, which legitimately introduces a range exchange)
    val p = planString(graft.llm.TextOps.qualityScoreLinear(
      Queries.tbl(spark, sf, "documents")))
    assert(!p.contains("Exchange"), s"classifier should not shuffle:\n$p")
    assert(!p.contains("Join"), s"classifier should not join:\n$p")
  }

  test("t26/m06: the chunker and the patch grid are pure map — no exchange, no join") {
    // operator forms (the registered queries add the determinism orderBy)
    val pc = planString(graft.llm.TextOps.chunkWindows(
      Queries.tbl(spark, sf, "documents"), w = 32, s = 24))
    assert(!pc.contains("Exchange"), s"chunker should not shuffle:\n$pc")
    assert(!pc.contains("Join"), s"chunker should not join:\n$pc")
    val pg = planString(graft.llm.Multimodal.patchGrid(
      graft.llm.Multimodal.fromDocuments(Queries.tbl(spark, sf, "documents")), p = 16))
    assert(!pg.contains("Exchange"), s"patch grid should not shuffle:\n$pg")
    assert(!pg.contains("Join"), s"patch grid should not join:\n$pg")
  }

  test("r10 map-only operators are pure map — no exchange, no join (m07/v23/t33 forms)") {
    import org.apache.spark.sql.functions.{col, lit}
    // operator forms (the registered queries add the determinism orderBy)
    val pa = planString(graft.llm.Multimodal.aspectBucket(
      graft.llm.Multimodal.fromDocuments(Queries.tbl(spark, sf, "documents"))))
    assert(!pa.contains("Exchange"), s"aspect bucketer should not shuffle:\n$pa")
    assert(!pa.contains("Join"), s"aspect bucketer should not join:\n$pa")
    // v23's assignment half (centroid literal + in-row argmin), pre-orderBy
    val emb = Queries.embeddings(spark, sf)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
    import org.apache.spark.sql.functions._
    val scored = array(seeds.map { case (cid, c) =>
      struct(round(aggregate(zip_with(col("__e"), array(c.map(lit): _*),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, v) => a + v), 6).as("dist2"),
        lit(cid).as("cluster_id"))
    }.toIndexedSeq: _*)
    val pk = planString(emb.withColumn("__e", col("embedding").cast("array<double>"))
      .withColumn("__best", element_at(array_sort(scored), 1))
      .select(col("vec_id"), col("__best.cluster_id"), col("__best.dist2")))
    assert(!pk.contains("Exchange"), s"k-means assignment should not shuffle:\n$pk")
    assert(!pk.contains("Join"), s"k-means assignment should not join:\n$pk")
    // t33's augmenter (index filter + gather + rebuild), pre-orderBy
    val ws = split(col("text"), " ")
    val keptIdx = filter(sequence(lit(1), size(ws)),
      i => substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        i.cast("string"))), 1, 1) =!= "0")
    val pd = planString(Queries.tbl(spark, sf, "documents")
      .select(col("doc_id"), concat_ws(" ",
        transform(keptIdx, i => element_at(ws, i))).as("aug_text")))
    assert(!pd.contains("Exchange"), s"word dropout should not shuffle:\n$pd")
    assert(!pd.contains("Join"), s"word dropout should not join:\n$pd")
  }

  test("v17: the tombstone-aware serve keeps the corpus side exchange-free") {
    import org.apache.spark.sql.functions.col
    // build + delete, then audit the serve plan: the only addition over
    // v11's shape must be a BROADCAST anti-join on the tombstones
    val emb = Queries.embeddings(spark, sf)
    graft.llm.Similarity.buildSignIndex(emb, "plan_v17_idx", buckets = 4,
      path = Some(java.nio.file.Files.createTempDirectory("plan_v17").toString))
    graft.llm.Similarity.deleteFromSignIndex(spark, "plan_v17_idx",
      emb.filter(col("vec_id") % 17 === 0).select("vec_id"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val served = graft.llm.Similarity.hammingRerankIndexed(
        spark, "plan_v17_idx", emb.filter(col("vec_id") < 8), k = 5, shortlist = 20)
      served.collect()
      val p = served.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("BroadcastHashJoin LeftAnti") ||
        p.contains("LeftAnti, BuildRight") || p.contains("LeftAnti"),
        s"tombstone exclusion missing:\n$p")
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n <= 3, s"corpus side shuffled under tombstones ($n exchanges):\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("t19: the DSIR probe joins the model by broadcast, never a shuffled join") {
    val p = planString(TextQueries("t19_dsir_weights")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast probe join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"model join must not shuffle the tokens:\n$p")
  }

  test("d14: the span remover re-assembles without a Window or per-doc sort node") {
    val p = planString(DedupQueries("d14_chunk_remove")(spark, sf))
    assert(!p.contains("Window"), s"no window expected:\n$p")
  }

  test("d01 exact dedup: map-side partial aggregation before the hash shuffle") {
    val p = planString(DedupQueries("d01_dedup_exact_groups")(spark, sf))
    // partial_count under HashAggregate before the exchange = map-side combine
    assert(p.contains("partial_count") || p.contains("partial"), s"no partial agg:\n$p")
  }

  test("d02 exact dedup groups by the 16-byte content hash, never the raw text") {
    val p = planString(DedupQueries("d02_dedup_exact_keep")(spark, sf))
    assert(p.contains("md5"), s"no hash group key:\n$p")
    // the shuffle must partition on the fixed-width hash, not the payload
    assert(!p.contains("hashpartitioning(text"), s"shuffle keyed on raw text:\n$p")
  }

  test("a10: the top-k heap aggregate partial-aggregates map-side") {
    val p = planString(AnalyticsQueries("a10_topk_agg")(spark, sf))
    // partial_top_k before the exchange: each mapper ships at most k pairs
    // per group — the property that makes the aggregate beat the window
    // form at scale. ObjectHashAggregate is the TypedImperativeAggregate
    // host operator.
    assert(p.contains("partial_top_k"), s"no map-side partial top_k:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"unexpected host operator:\n$p")
  }

  test("a21/st11: exact distinct is the bitmap aggregate's partial merge, never a distinct expansion") {
    // count(distinct) rewrites into a first phase keyed on (group, id) —
    // every distinct id crosses the exchange as a row. The bitmap
    // aggregate must instead show ObjectHashAggregate partials: one
    // mergeable buffer per (group x mapper) crosses, nothing id-keyed.
    Seq("a21" -> AnalyticsQueries("a21_bitmap_distinct")(spark, sf),
        "st11" -> StreamQueries("st11_window_distinct")(spark, sf)).foreach { case (name, df) =>
      val p = planString(df)
      assert(p.contains("partial_bitmap_distinct"),
        s"$name: no map-side partial bitmap_distinct:\n$p")
      assert(p.contains("ObjectHashAggregate"), s"$name: unexpected host operator:\n$p")
      assert(!"hashpartitioning\\([^)]*user_id".r.findFirstIn(p).isDefined,
        s"$name: id-keyed exchange — the distinct expansion is back:\n$p")
    }
  }

  test("v01/v03: ANN selection is the bounded top_k heap, never a per-query window sort") {
    // the r4 row_number form funneled the full scored corpus into one
    // reducer sort per query — the heap ships at most k pairs per query
    // per task (partial_top_k before the exchange). v03 exercises the
    // shared rerank tail, so this also guards v05/v10 against a future
    // caller reintroducing the window with an unbounded candidate frame.
    Seq("v01" -> VectorQueries("v01_knn_brute")(spark, sf),
        "v03" -> VectorQueries("v03_ann_lsh")(spark, sf),
        "t09" -> TextQueries("t09_tfidf")(spark, sf)).foreach { case (name, df) =>
      val p = planString(df)
      assert(p.contains("partial_top_k"), s"$name: no map-side partial top_k:\n$p")
      assert(!p.contains("Window"), s"$name: window sort in the selection:\n$p")
    }
  }

  test("k02/j03: last-wins dedup is the arg_max hash aggregate, never a window sort") {
    // the K2 family sits on the ingest hot path: the r5 row_number form
    // shuffled every row and sorted each key-group to keep one; arg_max
    // ships one winner per group per mapper (ObjectHashAggregate partials)
    Seq("k02" -> CoreQueries("k02_dedup_lastwins")(spark, sf),
        "j03" -> CoreQueries("j03_repair_join")(spark, sf)).foreach { case (name, df) =>
      val p = planString(df)
      assert(!p.contains("Window"), s"$name: window sort crept back:\n$p")
      assert(p.contains("partial_arg_max"), s"$name: no map-side partial:\n$p")
      assert(p.contains("ObjectHashAggregate"), s"$name: wrong host operator:\n$p")
    }
  }

  test("x08/x04: the remaining keep-first/last-wins dedups are arg_max, not windows") {
    // the last two row_number dedup stages converted to the k02/j03
    // standard in r7: x08's keep-first by md5(text) (arg_max on -doc_id)
    // and x04's (user_id, ts) last-wins view election. x08's plan must be
    // window-free outright; x04 keeps exactly one Window — the as-of
    // union-window IS that operator's single-shuffle formulation — so
    // there assert only that the dedup stage became a map-side arg_max.
    val p8 = planString(ExtendedQueries("x08_training_mix")(spark, sf))
    assert(!p8.contains("Window"), s"x08: window sort crept back:\n$p8")
    assert(p8.contains("partial_arg_max"), s"x08: no map-side partial:\n$p8")
    val p4 = planString(ExtendedQueries("x04_asof_join")(spark, sf))
    assert(p4.contains("partial_arg_max"), s"x04: no map-side partial:\n$p4")
  }

  test("t12: bigram LM is one job — no persist, V as an in-plan broadcast scalar") {
    // the r5 form persisted the full tokenized corpus (MEMORY_AND_DISK)
    // and ran three eager count() actions to bake V in as a literal; the
    // one-job form computes V as a broadcast 1-row aggregate over the
    // unigram subtree, deduped against the probe join by ReuseExchange
    val df = TextQueries("t12_bigram_lm")(spark, sf)
    val p = planString(df)
    assert(!p.contains("InMemoryTableScan"), s"t12 still persists:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"no broadcast scalar for V:\n$p")
    // the vocab exchange feeding V must be the SAME exchange the probe
    // join consumes — visible as a reused exchange in the final plan
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage") ||
      p.contains("reuses"), s"uni subtree not shared:\n$p")
  }

  test("m04: perceptual near-dup candidates come from the banded equi-join, ids only") {
    val p = planString(MediaQueries("m04_phash_neardup")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in m04:\n$p")
    // the candidate shuffle is keyed on the (band_idx, band_val) posting,
    // never on a payload column
    assert(p.contains("band_idx"), s"no banded join:\n$p")
    assert(!p.contains("hashpartitioning(payload"), s"payload shuffled:\n$p")
    // the hash is the native codegen kernel in a Project — the r5
    // mapPartitions form wrapped the hot loop in an object boundary
    assert(p.contains("perceptual_hash"), s"native kernel missing:\n$p")
    assert(!p.contains("SerializeFromObject") && !p.contains("DeserializeToObject"),
      s"object boundary around the hash loop:\n$p")
  }

  test("t06 sample bucket stays in [0, 100) past 32-bit doc ids (overflow guard)") {
    val s = spark
    import s.implicits._
    val big = Seq(1L, Int.MaxValue.toLong, (1L << 32) + 7L, 5000000000L,
      Long.MaxValue - 1).toDF("doc_id")
    val buckets = big.select(Queries.sampleBucket($"doc_id").as("b"))
      .collect().map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 100), buckets.mkString(","))
  }

  test("a08: HLL++ approximate distinct stays within 3x the configured rsd of exact") {
    val approx = AnalyticsQueries("a08_approx_distinct")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.countDistinct("l_orderkey").as("o"),
        org.apache.spark.sql.functions.countDistinct("l_partkey").as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (flag, (eo, ep)) =>
      val (ao, ap) = approx(flag)
      assert(math.abs(ao - eo) <= math.max(2.0, 0.06 * eo), s"$flag orders: $ao vs $eo")
      assert(math.abs(ap - ep) <= math.max(2.0, 0.06 * ep), s"$flag parts: $ap vs $ep")
    }
  }

  test("x08: the composed training-mix pipeline runs in two exchanges") {
    // quality gate and sample are narrow; dedup shuffles once on the
    // content hash; the language rollup shuffles its tiny partial aggs —
    // nothing else may add an exchange (AQE repeats the plan under
    // '== Initial Plan ==', so audit the final section only)
    val p = planString(ExtendedQueries("x08_training_mix")(spark, sf))
      .split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"expected <=2 exchanges, got $n:\n$p")
  }

  test("m01/t01: document scans prune to the columns the query needs") {
    val p = planString(TextQueries("t01_token_count")(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"documents scan not pruned:\n$p")
  }
}
