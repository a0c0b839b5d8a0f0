package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Empirical scale probe: replicates sf0.1 documents/embeddings 10x with
 * deterministic word/element rotation (so shingle and embedding
 * distributions stay realistic instead of forming artificial duplicate
 * clusters), then times the near-dup and ANN paths at 1x vs 10x.
 *
 * Run: sbt "runMain graft.ScaleProbe"
 *
 * Measured on local[32] (2026-08-13, round-8 operator set): 10x data
 * costs 1.2-4.8x wall on every equi-join/map path — d01 0.6->0.4s,
 * d03 2.6->6.6s, d04 1.6->3.9s, d07 1.6->7.7s, t09 1.5->2.3s,
 * d08 0.8->1.5s, d09 1.0->2.2s, d10 0.8->0.9s, t11 1.7->2.6s,
 * t12 1.6->2.3s, d11 1.7->4.2s, d12 2.5->4.0s, d14 2.2->4.4s,
 * t19 1.3->2.1s, t20 0.6->0.8s, t17 1.0->1.4s, m04 0.7->1.5s,
 * v03 2.3->2.9s, v05 0.9->3.0s, v08 0.5->0.6s, x16 3.4->7.3s
 * (10x users/edges) — candidate generation stays equi-join-bound with no
 * quadratic blowup, the executable form of the 100x-scale claim. (d07's
 * ratio is the label-propagation round count growing with the pair-graph
 * diameter, not a per-row blowup; v08/t17/t20's near-flat ratios are the
 * broadcast-scan and map-only shapes.) The one deliberate exception:
 * v02's exact all-pairs grid is quadratic COMPUTE by contract — 10x
 * vectors = 100x dot products — and measures 1.5->18.2s: the block grid
 * spreads the n^2 work, it does not (cannot) shrink it; the corpus-scale
 * near-dup paths are the LSH/IVF/minhash families above. The round-8
 * additions make that contrast executable: d16 SemDeDup — the SAME
 * semantic-dup goal as a v02-style pairwise pass — measures 1.6->4.9s
 * (3x: the cluster-bounded stage grows ~n^1.5) against the grid's 12x;
 * the v12 IVF index builds 1.1->3.2s and SERVES 0.9->1.2s (near-flat —
 * probed lists bound the scan); and the 10-round iterated-PageRank A/B
 * reads direct 19.5s vs layout-served 12.4s at 10x (the per-round edge
 * exchange the stored layout deletes).
 *
 * Third-sitting additions (2026-08-14 run): the domain-bounded
 * histogram analytics are near-flat as designed — a22 0.9->1.2s,
 * a24 0.6->1.0s, a25 1.8->3.6s — map-only text prep sits at the noise
 * floor (t26 0.45->0.25s, t27 1.3->0.7s), LPA grows with edges
 * (x28 4.5->9.9s, 2.2x for 10x edges over 3 fixed rounds), semantic
 * admission reads 0.5->2.8s with BOTH sides 10x (its batch-broadcast x
 * corpus-scan product grew 100x — 5.7x wall is the broadcast join
 * parallelizing), and v19's kNN graph inherits v02's quadratic
 * contract verbatim (0.8->8.8s on 100x dot products). One calibration
 * note: x27 landmark BFS reads 4.3->29.7s (6.9x) because this probe
 * scales the LANDMARK SET with the graph (users % 100 of 10x users) —
 * the Eppstein-Wang design holds the landmark count CONSTANT as the
 * graph grows (it is the accuracy knob, not a data-proportional set),
 * under which per-round cost is landmarks x frontier, linear in V.
 */
object ScaleProbe {
  def time[T](label: String)(f: => T)(implicit spark: SparkSession): T = {
    val t0 = System.nanoTime()
    val r = f
    // same hygiene rule as Bench: tracked state a query allocated is charged
    // to that query and never pollutes the next measurement
    SessionResources.release(spark)
    println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** The 10x "sf1" synthesis — shared with [[graft.tools.AbBench]]'s
    * indexed10x target: replicate sf0.1 documents/embeddings/events 10x
    * with deterministic rotation/shift so distributions stay realistic
    * (disjoint shingle sets, fresh user id ranges, preserved page-hub
    * skew) instead of forming artificial duplicate clusters. */
  def synth10x(spark: SparkSession, sf: String, big: String): Unit = {
    // 10x documents: copy k rotates each doc's words by 17*k positions, so
    // shingle sets across copies are (mostly) disjoint — realistic unique-
    // shingle distribution instead of artificial 10-copy dup clusters.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rot = (0 until 10).map { k =>
      docs.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
        .withColumn("__w", split(col("text"), " "))
        .withColumn("text",
          concat_ws(" ", concat(slice(col("__w"), lit(17 * k + 1), lit(100000)),
            slice(col("__w"), 1, 17 * k))))
        .drop("__w")
    }.reduce(_ unionByName _)
    rot.write.mode("overwrite").parquet(s"$big/documents.parquet")

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val embRot = (0 until 10).map { k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        .withColumn("embedding",
          concat(slice(col("embedding"), lit(3 * k + 1), lit(100000)),
            slice(col("embedding"), 1, 3 * k)).cast("array<float>"))
    }.reduce(_ unionByName _)
    embRot.write.mode("overwrite").parquet(s"$big/embeddings.parquet")

    // 10x events: copy k shifts users into a fresh id range and rotates the
    // page prop by 7*k mod 100 — the bipartite graph grows 10x in users and
    // edges while keeping the 100-page hub structure (the skew-realistic
    // case for the graph ops).
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val evRot = (0 until 10).map { k =>
      ev.withColumn("event_id", col("event_id") + lit(k * 10000000L))
        .withColumn("user_id", col("user_id") + lit(k * 10000000L))
        // coalesce keeps the rewrite TOTAL: concat null-propagates, so an
        // event whose props lacks a numeric k would otherwise get props =
        // NULL at 10x — not a faithful copy-shift for ops reading other
        // props fields
        .withColumn("props", coalesce(concat(lit("{\"k\": "),
          ((get_json_object(col("props"), "$.k").cast("long") + lit(7 * k)) % 100)
            .cast("string"), lit("}")), col("props")))
    }.reduce(_ unionByName _)
    evRot.write.mode("overwrite").parquet(s"$big/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession =
      Sessions.get("local[32]", 32, Some("/tmp/graft_scaleprobe_wh"))
    val sf = "/root/testdata/sf0.1"
    val big = "/tmp/sf1_synth"

    synth10x(spark, sf, big)
    println(s"[probe] docs10 = ${spark.read.parquet(s"$big/documents.parquet").count()}, " +
      s"emb10 = ${spark.read.parquet(s"$big/embeddings.parquet").count()}, " +
      s"ev10 = ${spark.read.parquet(s"$big/events.parquet").count()}")

    def bench(dir: String, tag: String): Unit = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      time(s"$tag d01 exact groups") {
        graft.llm.Dedup.exactGroups(d).write.format("noop").mode("overwrite").save() }
      time(s"$tag d03 ngram jaccard") {
        graft.llm.Dedup.ngramJaccardPairs(d, 5, 0.2).write.format("noop").mode("overwrite").save() }
      time(s"$tag d04 minhash lsh") {
        graft.llm.Dedup.minhashLshPairs(d, 5, 32, 16, 0.7).write.format("noop").mode("overwrite").save() }
      time(s"$tag d07 components") {
        graft.llm.Dedup.dedupComponents(
            graft.llm.Dedup.ngramJaccardPairs(d, 5, 0.2).select("id_a", "id_b"))
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag t09 tfidf") {
        graft.llm.TextOps.tfidfTopTerms(d, 3).write.format("noop").mode("overwrite").save() }
      time(s"$tag d08 decontaminate") {
        graft.llm.Dedup.decontaminate(
            d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
            w = 3, minShared = 2)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag t11 line dedup") {
        val words = split(col("text"), " ")
        val lines = d.select(col("doc_id"), posexplode(
            transform(sequence(lit(0), ceil(size(words) / lit(10.0)).cast("int") - 1),
              i => array_join(slice(words, i * 10 + 1, lit(10)), " ")))
            .as(Seq("line_no", "line")))
          .withColumn("line_no", col("line_no").cast("long"))
        graft.llm.Dedup.lineDedup(d, lines)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag d09 bloom decontaminate") {
        graft.llm.Dedup.decontaminateBloom(
            d.filter(col("doc_id") % 89 =!= 0), d.filter(col("doc_id") % 89 === 0),
            w = 3, minShared = 2)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag d10 incremental dedup") {
        graft.llm.Dedup.incrementalDedup(
            d.filter(col("doc_id") % 3 === 0), d.filter(col("doc_id") % 3 =!= 0),
            t => md5(array_join(slice(split(t, " "), 1, 5), " ")))
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag t12 bigram lm") {
        graft.llm.TextOps.bigramLm(d).write.format("noop").mode("overwrite").save() }
      time(s"$tag d11 edit distance") {
        graft.llm.Dedup.editDistancePairs(d)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag d12 chunk dedup") {
        graft.llm.Dedup.chunkSharedContent(d)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag d14 chunk remove") {
        graft.llm.Dedup.chunkDedupRemove(d)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag t19 dsir weights") {
        graft.llm.TextOps.dsirWeights(d, isTarget = col("lang") === "en")
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag t20 quality classifier") {
        graft.llm.TextOps.qualityScoreLinear(d)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag v02 cosine pairs grid") {
        graft.llm.Similarity.cosinePairsGrid(
            spark.read.parquet(s"$dir/embeddings.parquet"), minCos = 0.3)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag t17 bpe encode") {
        val merges = d.select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
            .as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc).limit(8)
          .collect().map(_.getString(0)).toSeq
        graft.llm.TextOps.bpeEncode(d, merges)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag m04 phash neardup") {
        graft.llm.Multimodal.phashNearDup(graft.llm.Multimodal.fromDocuments(d))
          .write.format("noop").mode("overwrite").save() }
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 32)
      time(s"$tag v03 ann lsh") {
        graft.llm.Similarity.annLsh(e, q, 5).write.format("noop").mode("overwrite").save() }
      time(s"$tag v05 ann ivf") {
        graft.llm.Similarity.annIvf(e, q, 5).write.format("noop").mode("overwrite").save() }
      // SemDeDup vs the exact grid: the cluster-bounded pairwise stage
      // should grow ~n^1.5 (sqrt-sized clusters) where v02 grows n^2
      time(s"$tag d16 semantic dedup") {
        graft.llm.Dedup.semanticDedup(e, tau = 0.35)
          .write.format("noop").mode("overwrite").save() }
      // IVF index round-trip: quantizer train + bucketed list write, then
      // the serve path (corpus scored in place, zero corpus exchanges)
      time(s"$tag v12 ivf index build") {
        graft.llm.Similarity.buildIvfIndex(e, s"ivf_probe_${tag.trim}", buckets = 32) }
      time(s"$tag v12 ivf index serve") {
        graft.llm.Similarity.annIvfIndexed(spark, s"ivf_probe_${tag.trim}", q, 5)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag v08 hamming ann") {
        graft.llm.Similarity.hammingAnn(e, q, 5).write.format("noop").mode("overwrite").save() }
      // PQ round-trip: codebook train + encode/persist, then the ADC
      // serve (codes scanned in place, query tables in broadcast) — the
      // growth law to watch is the serve scan: 8 codes/vector, so 10x
      // rows should cost ~10x scan, never 10x * dim floats
      time(s"$tag v13 pq ann inline") {
        graft.llm.Similarity.annPq(e, q, 5).write.format("noop").mode("overwrite").save() }
      time(s"$tag v14 pq index build") {
        graft.llm.Similarity.buildPqIndex(e, s"pq_probe_${tag.trim}", buckets = 32) }
      time(s"$tag v14 pq index serve") {
        graft.llm.Similarity.annPqIndexed(spark, s"pq_probe_${tag.trim}", q, 5)
          .write.format("noop").mode("overwrite").save() }
      val evd = spark.read.parquet(s"$dir/events.parquet")
      // exact distinct via the roaring bitmap aggregate: buffer-sized
      // exchange per (group x mapper) — the 10x/1x wall ratio should
      // track the SCAN, not the distinct-key population
      time(s"$tag a21 bitmap distinct") {
        evd.groupBy(col("event_type"))
          .agg(graft.functions.VectorAggregates.bitmapDistinct(col("user_id"))
            .as("n_users"))
          .write.format("noop").mode("overwrite").save() }
      val bip = graft.queries.Queries.eventsBipartiteEdges(evd)
      time(s"$tag x16 pagerank") {
        graft.graph.PageRank.pageRankFixed(bip, iters = 3)
          .write.format("noop").mode("overwrite").save() }
      // iterated-scoring A/B: 10 rounds direct (edge list re-shuffled every
      // round) vs served from the stored bucketed layout (edge side
      // exchange-free; only the rank vector shuffles per round). The build
      // is timed separately — it amortizes over every rerun of the loop.
      time(s"$tag x16 10-iter direct") {
        graft.graph.PageRank.pageRankFixed(bip, iters = 10)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag x16 layout build") {
        graft.graph.PageRank.buildEdgeLayout(bip, s"pr_probe_${tag.trim}", buckets = 32) }
      time(s"$tag x16 10-iter indexed") {
        graft.graph.PageRank.pageRankIndexed(spark, s"pr_probe_${tag.trim}", iters = 10)
          .write.format("noop").mode("overwrite").save() }
      // BFS over the same bipartite graph: per-round cost is the frontier
      // equi-join; the folded known set keeps the anti-join side at
      // <= log2(hops)+1 blocks whatever the hop count
      val seeds = evd.filter(col("user_id") % 50 === 0)
        .select(col("user_id").as("node")).distinct()
      time(s"$tag x19 bfs direct") {
        graft.graph.Bfs.bfsDistances(bip, seeds, maxHops = 4)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag x20 bfs indexed") {
        graft.graph.Bfs.bfsIndexed(spark, s"pr_probe_${tag.trim}", seeds, maxHops = 4)
          .write.format("noop").mode("overwrite").save() }
      // third-sitting additions. landmark BFS: frontier rows are
      // (seed, node) pairs — wall should track landmarks x reachable,
      // with the same early exit; LPA: three fixed rounds of
      // equi-join + vote argmax, so ~linear in edges
      val lms = evd.filter(col("user_id") % 100 === 0)
        .select(col("user_id").as("node")).distinct()
      time(s"$tag x27 landmark bfs") {
        graft.graph.Bfs.landmarkDistances(bip, lms, maxHops = 4)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag x28 label prop") {
        graft.graph.LabelProp.labelPropagation(bip, iters = 3)
          .write.format("noop").mode("overwrite").save() }
      // histogram analytics: the corpus scan dominates; every later
      // stage is DOMAIN-sized, so 10x rows should cost ~the scan alone
      time(s"$tag a22 hist quantiles") {
        graft.queries.Queries.a22HistQuantiles(spark, dir)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag a25 mad outliers") {
        graft.queries.Queries.a25MadOutliers(spark, dir)
          .write.format("noop").mode("overwrite").save() }
      // stored-bitmap retention: one bitmap per day; the window join is
      // day-count-sized whatever the event volume
      time(s"$tag a24 retention") {
        graft.queries.Queries.a24Retention(spark, dir)
          .write.format("noop").mode("overwrite").save() }
      // semantic admission: batch broadcast x corpus scan — linear in
      // the corpus at fixed batch size (batch = 1/10 of vectors here)
      time(s"$tag d20 semantic admit") {
        graft.llm.Similarity.semanticAdmit(
            e.filter(col("vec_id") % 10 === 1), e.filter(col("vec_id") % 10 =!= 1),
            tau = 0.35)
          .write.format("noop").mode("overwrite").save() }
      // kNN graph: all-vs-all through the grid — quadratic COMPUTE by
      // contract (the v02 caveat applies verbatim; corpus-scale swaps
      // LSH-bucketed candidates under the same heap)
      time(s"$tag v19 knn graph") {
        graft.llm.Similarity.knnGraph(e, k = 3, minCos = 0.3)
          .write.format("noop").mode("overwrite").save() }
      // map-only text prep: chunker and intra-doc dedup run at scan speed
      time(s"$tag t26 chunk windows") {
        graft.llm.TextOps.chunkWindows(d, w = 32, s = 24)
          .write.format("noop").mode("overwrite").save() }
      time(s"$tag t27 intradoc dedup") {
        graft.queries.Queries.t27IntraDocDedup(spark, dir)
          .write.format("noop").mode("overwrite").save() }
    }
    bench(sf, " 1x")
    bench(big, "10x")
    spark.stop()
  }
}
