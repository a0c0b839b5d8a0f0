package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * LLM-pipeline operator tests: near-dup recall on planted duplicates,
 * SimHash behavior, ANN-LSH recall vs brute force, multimodal plumbing,
 * fingerprint determinism. Runs on /root/testdata/sf0.001 plus tiny
 * in-memory fixtures.
 */
@graft.SlowTest
class LlmOpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("llm-ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  import scala.jdk.CollectionConverters._

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
  }

  // ---- dedup ----------------------------------------------------------------

  test("exact dedup keeps the smallest doc_id per distinct text") {
    val df = docsDf(Seq(1L -> "a b c", 2L -> "a b c", 3L -> "x y z"))
    val kept = Dedup.exactDedup(df).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L))
    val groups = Dedup.exactGroups(df).collect()
    assert(groups.length === 2)
    assert(groups.find(_.getLong(1) === 2L).get.getLong(2) === 1L) // keep_id = min
  }

  test("MinHash-LSH finds exactly the exact-Jaccard pairs at j >= 0.5 (planted dups)") {
    val exact = Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, w = 5, k = 32, bands = 16, minJ = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-duplicates")
    // LSH candidates are a subset of all pairs; after exact-Jaccard verify
    // they can only miss (banding), never add. At j>=0.5 with k=32/b=16 the
    // per-pair miss probability is < 1e-2; the planted pairs sit at j~0.8+.
    assert(lsh === exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("materialized signature table yields the same LSH pairs as the one-shot path") {
    val oneShot = Dedup.minhashLshPairs(docs, w = 5, k = 32, bands = 16, minJ = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigDir = java.nio.file.Files.createTempDirectory("sig_table").toString
    Dedup.withSignatures(docs, w = 5, k = 32).write.mode("overwrite").parquet(sigDir)
    val fromTable = Dedup.minhashLshPairsFrom(
      spark.read.parquet(sigDir).filter(col("sig").isNotNull), k = 32, bands = 16, minJ = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromTable === oneShot)
  }

  test("embedding near-dup: keep-first grouping; LSH-candidate scale path recalls the exact groups") {
    import org.apache.spark.sql.functions.{col, expr, round => f_round}
    graft.functions.GraftExtensions.register(spark)
    val tau = 0.35
    val exact = Dedup.embeddingNearDup(emb, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(exact.nonEmpty, "tau should be non-vacuous on the fixture corpus")
    // every dup_of must be a strictly lower id (keep-first invariant)
    exact.foreach { case (doc, dupOf) => assert(dupOf < doc) }
    // scale path: id-only LSH candidate pairs -> exact cosine verify ->
    // same grouping operator. Candidates can only miss (banding), never
    // add, so the result is a subset with high recall at this tau.
    val buckets = Similarity.withLshBuckets(emb, tables = 16, planes = 4)
      .select(col("table"), col("bucket"), col("vec_id"))
    val cand = buckets.join(
        buckets.select(col("table"), col("bucket"), col("vec_id").as("id_b")),
        Seq("table", "bucket"))
      .filter(col("vec_id") < col("id_b"))
      .select(col("vec_id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val n = emb.select(col("vec_id"), col("embedding"),
      expr("vec_norm(embedding)").as("nrm"))
    val verified = cand
      .join(n.select(col("vec_id").as("id_a"), col("embedding").as("e_a"), col("nrm").as("nrm_a")), "id_a")
      .join(n.select(col("vec_id").as("id_b"), col("embedding").as("e_b"), col("nrm").as("nrm_b")), "id_b")
      .withColumn("cos", f_round(expr("vec_dot(e_a, e_b)") / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= tau)
    val lsh = Dedup.embeddingNearDupFrom(verified).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lsh.keySet.subsetOf(exact.keySet), "LSH path must never invent duplicates")
    val recall = lsh.size.toDouble / exact.size
    info(f"embedding near-dup LSH-path recall = $recall%.3f (${lsh.size}/${exact.size})")
    assert(recall >= 0.5, f"recall too low: $recall%.3f")
  }

  test("dedup components: transitive chains collapse to the min id, islands stay apart") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4 (only adjacent pairs linked), island 10-11, singleton
    // pair 20-21: closure must label the whole chain with 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    // both strategies — the adaptive driver-side union-find (default for a
    // graph this small) and the distributed propagation loop (forced via
    // driverMaxEdges = 0) — must produce the identical labeling
    for (driverMax <- Seq(Long.MaxValue, 0L)) {
      val comps = graft.llm.Dedup.dedupComponents(pairs, driverMaxEdges = driverMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L), s"driverMax=$driverMax")
    }
    // empty pair frame: no vertices, no components, no non-convergence
    val empty = graft.llm.Dedup.dedupComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(empty.collect().isEmpty)
  }

  test("dedup components: a diameter-99 path converges within the default round cap") {
    val s = spark
    import s.implicits._
    // adversarial long chain 0-1-2-...-99: pure neighbor propagation needs
    // 99 rounds and used to FAIL the 25-round cap; pointer jumping halves
    // label-chain distance per round (~8 rounds). Forced through the
    // distributed loop (driverMaxEdges = 0).
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = graft.llm.Dedup.dedupComponents(pairs, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 100 && comps.values.forall(_ == 0L),
      s"bad labels: ${comps.filter(_._2 != 0L).take(5)}")
  }

  test("dedup components match a driver-side union-find on random graphs") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(7L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val pairs = Seq.fill(30)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // reference: classic union-find, then relabel every root to the min
      // member of its set (the operator's canonical-representative rule)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb }
      val expected = parent.keys.toSeq
        .groupBy(find).values
        .flatMap(members => members.map(_ -> members.min)).toMap
      // force the distributed loop (driverMaxEdges = 0) so this property
      // keeps testing the propagation fixpoint, not union-find vs itself;
      // then check the adaptive driver-side path agrees too
      val loop = graft.llm.Dedup.dedupComponents(pairs.toDF("id_a", "id_b"),
          driverMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(loop === expected, s"loop path, seed=$seed pairs=$pairs")
      val adaptive = graft.llm.Dedup.dedupComponents(pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(adaptive === expected, s"driver path, seed=$seed pairs=$pairs")
    }
  }

  test("SimHash: same word bag (any order) collides, unrelated text doesn't") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val reordered = (1 to 40).map(i => s"w$i").reverse.mkString(" ")
    val other = (100 to 140).map(i => s"q$i").mkString(" ")
    val h = (a: String, b: String) => java.lang.Long.bitCount(
      Dedup.simhash64(a.split(" ").toSeq) ^ Dedup.simhash64(b.split(" ").toSeq))
    assert(h(base, reordered) === 0) // identical bag -> hamming 0
    assert(h(base, other) > 3)
    // graded distance: a 1-word substitution lands between identical and
    // unrelated (bit flips scale with the changed weight / sqrt(n))
    val oneChanged = ((1 to 39).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    assert(h(base, oneChanged) > 0 && h(base, oneChanged) < h(base, other))
  }

  test("postings cap: a 1500-copy boilerplate cluster produces no pairs, rare-shingle pairs survive") {
    // every shingle of the boilerplate text has 1500 postings (> cap 1000),
    // so candidate generation drops the cluster entirely — the uncapped
    // join would enumerate ~1.1M candidate pairs. The rare pair (all its
    // shingles appear twice) must still be found and scored exactly.
    val boiler = "x1 x2 x3 x4 x5 x6"
    val rare = "r1 r2 r3 r4 r5 r6 r7"
    val rows = (1L to 1500L).map(i => i -> boiler) ++
      Seq(2001L -> rare, 2002L -> (rare + " r8"))
    val pairs = Dedup.ngramJaccardPairs(docsDf(rows), w = 5, minJ = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(pairs.toSeq === Seq((2001L, 2002L, 0.75))) // inter 3 / union 4
  }

  test("shingle-join near-dup generates candidates via equi-join, not cartesian") {
    val plan = Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    val lshPlan = Dedup.minhashLshPairs(docs).queryExecution.executedPlan.toString
    assert(!lshPlan.contains("CartesianProduct"), s"cartesian in LSH plan:\n$lshPlan")
  }

  // ---- top-k aggregate -------------------------------------------------------

  test("topK bounded-heap aggregate reproduces the window form exactly (incl. ties)") {
    val s = spark
    import s.implicits._
    // planted ties: equal ords must resolve by id asc, across partials
    val rows = Seq(
      ("a", 5.0, 10L), ("a", 5.0, 3L), ("a", 5.0, 7L), ("a", 1.0, 1L),
      ("b", 2.0, 2L), ("b", 9.0, 9L),
      ("c", 4.0, 4L)) ++ (0 until 200).map(i => ("d", (i % 13).toDouble, i.toLong))
    val df = rows.toDF("g", "ord", "id").repartition(7) // force partial merges
    val got = df.groupBy("g")
      .agg(graft.functions.VectorAggregates.topK(col("ord"), col("id"), 3).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("g"), col("i"), col("t.ord"), col("t.id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    val expect = rows.groupBy(_._1).flatMap { case (g, members) =>
      members.map(m => (m._2, m._3)).sortBy { case (o, i) => (-o, i) }
        .take(3).zipWithIndex.map { case ((o, i), rk) => (g, rk, o, i) }
    }.toSet
    assert(got === expect)
  }

  test("topKStr string-id heap reproduces the window form exactly (byte-order ties)") {
    val s = spark
    import s.implicits._
    // ties resolve by string BYTE order asc: "Z" < "a", "ab" < "b", and a
    // multi-byte UTF-8 char sorts after all ASCII — the oracle's binary
    // collation, asserted across forced partial merges
    val rows = Seq(
      ("a", 5.0, "beta"), ("a", 5.0, "Zeta"), ("a", 5.0, "alpha"), ("a", 1.0, "x"),
      ("b", 2.0, "ab"), ("b", 2.0, "b"), ("b", 2.0, "é"),
      ("c", 4.0, "only")) ++
      (0 until 200).map(i => ("d", (i % 13).toDouble, s"t${"%03d".format(i)}"))
    val df = rows.toDF("g", "ord", "id").repartition(7)
    val got = df.groupBy("g")
      .agg(graft.functions.VectorAggregates.topKStr(col("ord"), col("id"), 3).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("g"), col("i"), col("t.ord"), col("t.id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getString(3))).toSet
    def byteLt(x: String, y: String): Boolean = {
      val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      a.length < b.length
    }
    val expect = rows.groupBy(_._1).flatMap { case (g, members) =>
      members.map(m => (m._2, m._3))
        .sortWith { case ((o1, i1), (o2, i2)) => o1 > o2 || (o1 == o2 && byteLt(i1, i2)) }
        .take(3).zipWithIndex.map { case ((o, i), rk) => (g, rk, o, i) }
    }.toSet
    assert(got === expect)
  }

  test("bpeEncode: per-word merge application matches hand-computed tokens") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "aaaa ab"), // "aaaa": aa+aa (left-to-right non-overlapping); "ab": ab
      (2L, "aba"),     // "aa" can't match across the b; "ab"+a
      (3L, ""),        // empty text: 0 tokens, still present in the output
      (4L, "xyz")      // no merge applies
    ).toDF("doc_id", "text")
    val r = graft.llm.TextOps.bpeEncode(docs, Seq("aa", "ab")).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r === Array(
      (1L, 6L, 3L, 3L), (2L, 3L, 2L, 1L), (3L, 0L, 0L, 0L), (4L, 3L, 3L, 0L)))
    // merge priority order matters: with "ab" first, "aab" goes a+ab, not aa+b
    val r2 = graft.llm.TextOps.bpeEncode(Seq((1L, "aab")).toDF("doc_id", "text"),
        Seq("ab", "aa")).collect().map(x => x.getLong(2))
    assert(r2 === Array(2L))
  }

  test("bpe_token_count kernel equals the replace-chain spec, incl. multi-byte text") {
    val s = spark
    import s.implicits._
    // adversarial shapes: overlap runs, merged-token boundaries ("aab"
    // after (a,b) must NOT re-merge), words vs doc boundaries, empty
    // words, multi-byte chars between mergeable ASCII pairs
    val docs = (Seq(
      "aaaa", "aaa", "aab", "aba", "xyx yxy", "", "a", "ab ab ab",
      "café ab", "éa bé", "a  b", "the er stream er"
    ) ++ (0 until 50).map { i =>
      val rnd = new scala.util.Random(i)
      (0 until 12).map(_ => "aberth s".charAt(rnd.nextInt(8))).mkString
    }).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (merges <- Seq(Seq("aa", "ab"), Seq("ab", "aa", "er", "th"),
        Seq("er", "re", "st", "ab"))) {
      val fast = graft.llm.TextOps.bpeEncode(docs, merges)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
      val spec = TextOpsRef.bpeEncodeHof(docs, merges)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
      assert(fast === spec, s"kernel != replace chain for merges=$merges")
    }
  }

  // ---- line dedup ------------------------------------------------------------

  test("lineDedup keeps the first occurrence corpus-wide and reassembles in order") {
    val s = spark
    import s.implicits._
    // doc 1: lines A, B; doc 2: lines B (dup), C; doc 3: only A and B (all dup)
    val lines = Seq(
      (1L, 0L, "header boilerplate"), (1L, 1L, "unique one"),
      (2L, 0L, "header boilerplate"), (2L, 1L, "unique two"),
      (3L, 0L, "header boilerplate"), (3L, 1L, "unique one"))
      .toDF("doc_id", "line_no", "line")
    val docs = docsDf(Seq(1L -> "x", 2L -> "x", 3L -> "x", 4L -> "x"))
    val got = Dedup.lineDedup(docs, lines).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((2L, 2L, "header boilerplate unique one")))
    assert(got(2L) === ((2L, 1L, "unique two")))
    assert(got(3L) === ((2L, 0L, "")))
    assert(got(4L) === ((0L, 0L, ""))) // doc with no lines at all stays total
  }

  test("tokenDrift: symmetric corpora score zero, a shifted token scores positive") {
    val s = spark
    import s.implicits._
    // doc 0 (A) and doc 1 (B) identical -> every token's PSI contribution
    // is exactly 0 at any smoothing
    val same = docsDf(Seq(0L -> "x y z", 1L -> "x y z"))
    val zeros = TextOps.tokenDrift(same, col("doc_id") % 2 === 0).collect()
    assert(zeros.length === 3)
    assert(zeros.forall(_.getDouble(3) === 0.0), zeros.mkString(","))
    // "flood" appears only in the A snapshot -> positive drift; the
    // balanced token stays 0
    val shifted = docsDf(Seq(
      0L -> "flood flood flood base", 1L -> "base", 2L -> "flood base"))
    val got = TextOps.tokenDrift(shifted, col("doc_id") % 2 === 0).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("flood")._1 === 4L && got("flood")._2 === 0L)
    assert(got("flood")._3 > 0.0)
    assert(got("base") === ((2L, 1L, got("base")._3)))
    // PSI contributions are non-negative by construction: (p-q) and
    // ln(p/q) always share a sign
    assert(got.values.forall(_._3 >= 0.0))
  }

  test("tokenDrift top-K cut is count-desc token-asc total-ordered") {
    val s = spark
    import s.implicits._
    val docs = docsDf(Seq(0L -> "a a b b c", 1L -> "d d e"))
    val got = TextOps.tokenDrift(docs, col("doc_id") % 2 === 0, topK = 3)
      .collect().map(_.getString(0)).sorted.toSeq
    // counts: a=2 b=2 d=2 c=1 e=1 -> top3 by (count desc, token asc) = a, b, d
    assert(got === Seq("a", "b", "d"))
  }

  test("boilerplateStrip removes within-source repeats, keeps cross-source ones") {
    val s = spark
    import s.implicits._
    // source A: "footer text" in docs 1+2 (boilerplate -> stripped from both);
    // source B: the SAME line in doc 3 only (1 doc in B -> kept: the rule is
    // per-source, not global); doc 4 is all-boilerplate -> empty clean_text.
    val lines = Seq(
      (1L, "A", 0L, "footer text"), (1L, "A", 1L, "unique one"),
      (2L, "A", 0L, "footer text"), (2L, "A", 1L, "unique two"),
      (3L, "B", 0L, "footer text"), (3L, "B", 1L, "unique three"),
      (4L, "A", 0L, "footer text"))
      .toDF("doc_id", "source", "line_no", "line")
    val docs = docsDf(Seq(1L -> "x", 2L -> "x", 3L -> "x", 4L -> "x", 5L -> "x"))
    val got = TextOps.boilerplateStrip(docs, lines).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((2L, 1L, "unique one")))
    assert(got(2L) === ((2L, 1L, "unique two")))
    assert(got(3L) === ((2L, 0L, "footer text unique three")))
    assert(got(4L) === ((1L, 1L, "")))
    assert(got(5L) === ((0L, 0L, ""))) // doc with no lines stays total
  }

  test("encodingAnomalies counts the three artifact classes exactly") {
    val df = docsDf(Seq(
      1L -> ("v\u00C3\u00A1lue " + "x" * 600), // 1 anomaly in 607 chars
      2L -> "completely clean ascii text",
      3L -> "\uFFFD\uFFFD\u0092x", // 3 anomalies in 4 chars -> 750000 ppm
      4L -> "nel\u0085here")) // U+0085 is C1 but not the planted 0x92
    val got = TextOps.encodingAnomalies(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    val d1 = got(1L)
    assert((d1._1, d1._2, d1._3) === ((1L, 0L, 0L)))
    assert(d1._4 === 1000000L / 607L && !d1._5) // 1647 ppm < the 2000 ppm gate
    assert(got(2L) === ((0L, 0L, 0L, 0L, false)))
    assert(got(3L) === ((0L, 2L, 1L, 750000L, true)))
    assert(got(4L) === ((0L, 0L, 1L, 1000000L / 8L, true)))
  }

  test("encodingAnomalies is map-only: no exchange, no UDF") {
    val df = TextOps.encodingAnomalies(docs)
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"map-only operator shuffled:\n$phys")
    assert(!phys.contains("BatchEvalPython") && !phys.toLowerCase.contains("scalaudf"),
      s"detector must stay codegen:\n$phys")
  }

  test("entropyCensus: exact entropy goldens across the verdict bands") {
    val df = docsDf(Seq(
      1L -> "aaaa", // 1 symbol -> exactly 0 bits
      2L -> "ab", // 2 symbols uniform -> exactly 1 bit
      3L -> "ab " * 150, // 3 symbols uniform -> log2(3)
      4L -> "héllo", // multibyte codepoint counted once
      5L -> "", // empty stays total, verdict 'empty'
      6L -> "😀😀")) // one 4-byte codepoint, twice
    val got = TextOps.entropyCensus(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    assert(got(1L) === ((4L, 1L, 0.0, "junk_repetitive")))
    assert(got(2L) === ((2L, 2L, 1.0, "junk_repetitive")))
    assert(got(3L) === ((450L, 3L, 1.584963, "junk_repetitive")))
    assert(got(4L) === ((5L, 4L, 1.921928, "junk_repetitive")))
    assert(got(5L) === ((0L, 0L, 0.0, "empty")))
    assert(got(6L) === ((2L, 1L, 0.0, "junk_repetitive")))
    // natural text lands mid-band; a base64 blob crosses the high gate
    val bands = TextOps.entropyCensus(docsDf(Seq(
      7L -> "the quick brown fox jumps over the lazy dog and then some more words",
      8L -> ("3Se48jON9FWHDX/yLM7JaA==bdbJ9vp9c7s112TRHUmtZQ==" * 8)))).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(bands(7L) === "clean")
    assert(bands(8L) === "junk_random")
  }

  test("entropyCensus is map-only: no exchange, no UDF, kernel in codegen") {
    val df = TextOps.entropyCensus(docs)
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"map-only operator shuffled:\n$phys")
    assert(!phys.contains("BatchEvalPython") && !phys.toLowerCase.contains("scalaudf"),
      s"detector must stay codegen:\n$phys")
    assert(phys.contains("char_stats"), s"native kernel missing from plan:\n$phys")
  }

  test("domainReputation: suffix rule, dup/share ppm, spam verdict") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "https://www.spam.biz/doc/1", "same"),
      (2L, "https://m.spam.biz/doc/2", "same"),
      (3L, "https://www.spam.biz/doc/3", "same"),
      (4L, "https://www.news.co.uk/doc/4", "a"), // multi-part public suffix
      (5L, "https://m.news.co.uk/doc/5", "b"),
      (6L, "https://www.blog.example.com/doc/6", "c")) // strip 2 labels
      .toDF("doc_id", "url", "text")
    val got = WebOps.domainReputation(df, sharePpmMax = 400000L).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(got.keySet === Set("spam.biz", "news.co.uk", "example.com"))
    assert(got("spam.biz") === ((3L, 2L, 666666L, 500000L, true)))
    assert(got("news.co.uk") === ((2L, 2L, 0L, 333333L, false)))
    assert(got("example.com") === ((1L, 1L, 0L, 166666L, false)))
  }

  test("registeredDomain handles bare two-label hosts") {
    val s = spark
    import s.implicits._
    val got = Seq("foo.org", "www.bar.co.uk", "a.b.c.example.com")
      .toDF("h").select(WebOps.registeredDomain(col("h")))
      .collect().map(_.getString(0))
    assert(got === Array("foo.org", "bar.co.uk", "example.com"))
  }

  test("canonicalizeUrl normalizes every decoration class") {
    val s = spark
    import s.implicits._
    val got = Seq(
      "HTTPS://WWW.Site.org:443/a/?utm_source=feed&b=2&a=1#frag",
      "https://www.site.org/a?a=1&b=2",
      "http://host.com:80/",
      "http://host.com",
      "https://x.org/p?gclid=1&fbclid=2&ref=rss", // all params tracking
      "https://x.org/p/?z=9&y=8")
      .toDF("url").select(WebOps.canonicalizeUrl(col("url")))
      .collect().map(_.getString(0))
    assert(got(0) === "https://www.site.org/a?a=1&b=2")
    assert(got(1) === "https://www.site.org/a?a=1&b=2")
    assert(got(2) === "http://host.com/")
    assert(got(3) === "http://host.com/")
    assert(got(4) === "https://x.org/p")
    assert(got(5) === "https://x.org/p?y=8&z=9")
  }

  test("urlDedup collapses variants to one canonical row, keeps min doc_id") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (10L, "https://a.org/x?b=2&a=1"),
      (11L, "https://a.org/x/?a=1&utm_source=f&b=2"),
      (12L, "HTTPS://A.ORG:443/x?a=1&b=2"),
      (13L, "https://a.org/x?a=1&b=2#frag"),
      (14L, "https://a.org/other"))
      .toDF("doc_id", "url")
    val got = WebOps.urlDedup(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      "https://a.org/x?a=1&b=2" -> ((4L, 10L)),
      "https://a.org/other" -> ((1L, 14L))))
  }

  test("zipfFit recovers an exact power law: slope -1, zero residuals") {
    // counts 24/rank at ranks 1..4 -> log2(cnt) = log2(24) - log2(rank),
    // a perfect line with slope -1
    val text = (Seq.fill(24)("aa") ++ Seq.fill(12)("bb") ++
      Seq.fill(8)("cc") ++ Seq.fill(6)("dd")).mkString(" ")
    val rows = TextOps.zipfFit(docsDf(Seq(1L -> text)), topK = 10)
      .orderBy("rank").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1L, "aa", 24L), (2L, "bb", 12L), (3L, "cc", 8L), (4L, "dd", 6L)))
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3) - (-1.0)) < 1e-9, s"slope ${r.getDouble(3)}")
      assert(math.abs(r.getDouble(4)) < 1e-9, s"resid ${r.getDouble(4)}")
    }
  }

  test("zipfFit top-K cut is totally ordered: count desc, token asc on ties") {
    val text = "z z y y x w" // ties: z=y=2, x=w=1
    val got = TextOps.zipfFit(docsDf(Seq(1L -> text)), topK = 3)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "y"), (2L, "z"), (3L, "w")))
  }

  test("crawlDiff classifies added/removed/changed/unchanged across snapshots") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "https://a.org/1", "same"),
      (2L, "https://a.org/2", "old"),
      (3L, "https://a.org/3", "gone")).toDF("doc_id", "url", "text")
    val b = Seq(
      (10L, "https://a.org/1?utm_source=x", "same"), // canonicalizes to /1
      (11L, "https://a.org/2", "new"),
      (12L, "https://a.org/4", "fresh")).toDF("doc_id", "url", "text")
    val got = WebOps.crawlDiff(a, b).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      "https://a.org/1" -> (("unchanged", 1L, 10L)),
      "https://a.org/2" -> (("changed", 2L, 11L)),
      "https://a.org/3" -> (("removed", 3L, -1L)),
      "https://a.org/4" -> (("added", -1L, 12L))))
  }

  test("crawlDiff pre-collapses variants per snapshot: min doc_id's fingerprint wins") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (5L, "https://a.org/x", "kept"),
      (6L, "https://a.org/x#frag", "ignored-variant")).toDF("doc_id", "url", "text")
    val b = Seq((9L, "https://a.org/x", "kept")).toDF("doc_id", "url", "text")
    val got = WebOps.crawlDiff(a, b).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq(("https://a.org/x", "unchanged", 5L)))
  }

  test("linkGraph extracts hrefs, maps domains, drops self-loops") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "https://www.a.org/p",
        """see <a href="https://x.b.org/1">l</a> and <a href="https://www.b.org/2">m</a>"""),
      (2L, "https://www.a.org/q",
        """self <a href="https://m.a.org/3">s</a> out <a href="https://c.co.uk/4">t</a>"""),
      (3L, "https://www.b.org/r", "no links here"))
      .toDF("doc_id", "url", "text")
    val got = WebOps.linkGraph(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // both b.org hosts collapse to one registered domain; the a.org
    // self-link vanishes; c.co.uk keeps its multi-part suffix
    assert(got === Map(
      ("a.org", "b.org") -> 2L,
      ("a.org", "c.co.uk") -> 1L))
  }

  test("pathPrefixBlock matches at segment boundaries only") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      (1L, "https://a.org/private/doc1"), // blocked: under /private
      (2L, "https://a.org/private"), // blocked: exact prefix
      (3L, "https://a.org/privateX/doc"), // NOT blocked: segment boundary
      (4L, "https://a.org/pub/x"), // no rule
      (5L, "https://b.org/private/doc5")) // rule is per-domain: b.org free
      .toDF("doc_id", "url")
    val rules = Seq(("a.org", "/private")).toDF("domain", "prefix")
    val got = WebOps.pathPrefixBlock(pages, rules).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(1L -> true, 2L -> true, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("tokenBudgetSample admits a deterministic prefix per source until the budget") {
    val s = spark
    import s.implicits._
    // md5('1')..md5('4') order within source A: 1 < 4 < 3 < 2
    // (c4ca.., a87f.., ecca.., c81e.. -> a87f(4) < c4ca(1) < c81e(2) < ecca(3))
    val df = Seq(
      (1L, "A", "w w w w"), // 4 tokens
      (2L, "A", "w w w"), // 3
      (3L, "A", "w w w w w"), // 5
      (4L, "A", "w w"), // 2
      (5L, "B", "w w w w w w")) // 6
      .toDF("doc_id", "source", "text").select(col("source"), col("doc_id"), col("text"))
    val got = TextOps.tokenBudgetSample(df, budget = 7L).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    // order in A by md5: 4 (cum 2), 1 (cum 6), 2 (cum 9 > 7 stop), 3 never
    assert(got.keySet === Set(4L, 1L, 5L))
    assert(got(4L) === 2L && got(1L) === 6L && got(5L) === 6L)
  }

  test("markupResidue counts tags, entities and script fragments exactly") {
    val df = docsDf(Seq(
      1L -> ("""<div class="x">hi</div> plain <br/>""" + " y" * 300), // 3 tags
      2L -> "clean text with a < b and x > y comparisons only", // not tags
      3L -> "a&nbsp;b&#160;c &notanentity here", // 2 entities (no ';' on 3rd)
      4L -> "function(a){color:red;} var q here", // 3 script hits
      5L -> "short <b>x</b>")) // 2 tags in 14 chars -> flagged
    val got = TextOps.markupResidue(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(6)))).toMap
    assert(got(1L)._1 === 3L && got(1L)._2 === 0L && got(1L)._3 === 0L)
    assert(got(2L) === ((0L, 0L, 0L, false)))
    assert(got(3L) === ((0L, 2L, 0L, true)))
    assert(got(4L) === ((0L, 0L, 3L, true)))
    assert(got(5L) === ((2L, 0L, 0L, true)))
  }

  test("markupResidue is map-only: no exchange, no UDF") {
    val df = TextOps.markupResidue(docs)
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"map-only operator shuffled:\n$phys")
    assert(!phys.contains("BatchEvalPython") && !phys.toLowerCase.contains("scalaudf"),
      s"detector must stay codegen:\n$phys")
  }

  test("filteredKnnAudit: post-filter under-fills and diverges exactly as priced") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, Seq(1f, 0f), 0), // the query
      (1L, Seq(1f, 0.01f), 0), // keep; cos ~ .99995
      (2L, Seq(1f, 0.1f), 1), // drop; cos ~ .995
      (3L, Seq(0.9f, 0.3f), 3), // keep; cos ~ .9487
      (4L, Seq(0f, 1f), 6)) // keep; cos 0
      .toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") === 0L)
    def run(overfetch: Int) =
      Similarity.filteredKnnAudit(corpus, queries, col("label") % 3 === 0,
        k = 2, overfetch = overfetch).collect()
        .map(r => (r.getLong(1), r.getLong(2))).head
    // overfetch 3: unfiltered top-3 = {1,2,3}; survivors {1,3} fill both
    // slots and match the exact filtered top-2 {1,3}
    assert(run(3) === ((2L, 2L)))
    // overfetch 2: unfiltered top-2 = {1,2}; only {1} survives -> one
    // slot filled, one overlap — the recall loss post-filtering pays
    assert(run(2) === ((1L, 1L)))
  }

  test("boilerplateStrip census and anti-join key on md5, not line text") {
    val s = spark
    import s.implicits._
    val lines = Seq((1L, "A", 0L, "a b"), (2L, "A", 0L, "a b"))
      .toDF("doc_id", "source", "line_no", "line")
    val docs = docsDf(Seq(1L -> "x", 2L -> "x"))
    val df = TextOps.boilerplateStrip(docs, lines)
    df.collect()
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("md5"), s"census must key on md5(line):\n$analyzed")
    // the boilerplate-set aggregate output carries (source, hash) only —
    // line text never rides the census aggregate
    val aggs = df.queryExecution.analyzed.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    val census = aggs.filter(_.aggregateExpressions.exists(_.name == "__nd"))
    assert(census.nonEmpty, "expected the (source, hash) census aggregate")
    assert(!census.head.output.map(_.name).contains("line"),
      "census output must not carry line text")
  }

  test("lineDedup election shuffles hashes, not line text") {
    val s = spark
    import s.implicits._
    val lines = Seq((1L, 0L, "a b"), (2L, 0L, "a b")).toDF("doc_id", "line_no", "line")
    val docs = docsDf(Seq(1L -> "x", 2L -> "x"))
    val df = Dedup.lineDedup(docs, lines)
    df.collect()
    // the aggregate keyed on the line must key on md5(line): the hot-line
    // shuffle moves 16-byte keys and partial-aggregates map-side. Assert on
    // the analyzed plan: with a LocalRelation fixture the optimizer folds
    // the md5 projection into the relation itself, and physical strings
    // collapse it into an attribute either way.
    val agg = df.queryExecution.analyzed.toString
    assert(agg.contains("md5"), s"winner election must group by md5(line):\n$agg")
    // and the election output carries ids only — line text never rides
    // the election aggregate
    val election = df.queryExecution.analyzed.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.aggregateExpressions.exists(_.name == "k") => a
    }
    assert(election.nonEmpty && election.head.output.map(_.name) == Seq("__h", "k"))
  }

  // ---- decontamination -------------------------------------------------------

  test("decontaminate counts distinct shared shingles per (train, bench) pair") {
    // bench docs 1000/2000 are identical; 3-gram shingles of "a b c d e"
    // are {a b c, b c d, c d e}
    val bench = docsDf(Seq(1000L -> "a b c d e", 2000L -> "a b c d e"))
    val train = docsDf(Seq(
      1L -> "a b c d x", // shares {a b c, b c d} with each bench doc -> 2
      2L -> "a b c x y", // shares only {a b c} -> below minShared, dropped
      3L -> "a b c d e", // identical -> shares all 3 with both bench docs
      4L -> "q r s t u")) // disjoint
    val got = Dedup.decontaminate(train, bench, w = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 2L), (3L, 2L, 3L)))
  }

  test("decontaminate broadcasts the bench side (no corpus shuffle before the join)") {
    val df = Dedup.decontaminate(
      docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0),
      w = 3, minShared = 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("edit-distance pairs: planted near-identical docs found, disjoint not") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = docsDf(Seq(
      1L -> base,
      2L -> base.replace("w3 ", "w3x "), // 1-char insert, shares most 4-grams
      3L -> (1 to 40).map(i => s"z$i").mkString(" "))) // disjoint vocabulary
    val got = Dedup.editDistancePairs(docs, w = 4, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.map(p => (p._1, p._2)) === Set((1L, 2L)))
    assert(got.head._3 === 1L, s"expected distance 1, got ${got.head._3}")
    graft.SessionResources.release(spark)
  }

  test("decontaminateBloom with an empty bench side yields empty, not an error") {
    val train = docsDf(Seq(1L -> "a b c d e", 2L -> "f g h i j"))
    val bench = docsDf(Seq.empty[(Long, String)])
    assert(Dedup.decontaminateBloom(train, bench, w = 3, minShared = 2).count() === 0L)
    graft.SessionResources.release(spark)
  }

  test("incremental dedup: corpus-present content rejected, batch keeps first") {
    val corpus = docsDf(Seq(1L -> "a b c", 2L -> "x y z"))
    val batch = docsDf(Seq(
      10L -> "a b c",  // already in the corpus -> rejected
      11L -> "p q r", 12L -> "p q r", // within-batch dup -> keep 11
      13L -> "u v w"))
    val got = Dedup.incrementalDedup(batch, corpus)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(got.toSeq === Seq(11L, 13L))
  }

  test("decontaminateBloom equals the exact scan and its gate actually prunes") {
    val train = docs.filter(col("doc_id") % 89 =!= 0)
    val bench = docs.filter(col("doc_id") % 89 === 0)
    val exact = Dedup.decontaminate(train, bench, w = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloom = Dedup.decontaminateBloom(train, bench, w = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloom === exact)
    assert(exact.nonEmpty, "fixture split yields no contamination — test is vacuous")
    // the gate sits BEFORE the explode: the plan carries a might_contain
    // predicate on the un-exploded shingle array, and the verifying join is
    // still the broadcast form
    val df = Dedup.decontaminateBloom(train, bench, w = 3, minShared = 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom gate in plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    graft.SessionResources.release(spark)
  }

  // ---- text ops -------------------------------------------------------------

  test("piiRedact replaces emails, IPs, and dashed phones with typed placeholders") {
    val df = docsDf(Seq(
      1L -> "mail me at jan.de-vries+x@mail.example.org or call 06-1234-5678",
      2L -> "server 10.0.255.7 logged 192.168.1.1 twice: 192.168.1.1",
      3L -> "plain text with no pii at all",
      4L -> "a@b.co and 1.2.3.4 and +31-20-555-0199"))
    val got = TextOps.piiRedact(df)
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) === ((1L, 0L, 1L, "mail me at <EMAIL> or call <PHONE>")))
    assert(got(2L) === ((0L, 3L, 0L, "server <IP> logged <IP> twice: <IP>")))
    assert(got(3L) === ((0L, 0L, 0L, "plain text with no pii at all")))
    assert(got(4L) === ((1L, 1L, 1L, "<EMAIL> and <IP> and <PHONE>")))
  }

  test("piiRedact kernel == 3-pass regexp_replace spec frame-for-frame, and on the SQL surface") {
    val df = docsDf(Seq(
      1L -> "mail me at jan.de-vries+x@mail.example.org or call 06-1234-5678",
      2L -> "server 10.0.255.7 logged 192.168.1.1 twice: 192.168.1.1",
      3L -> "plain text with no pii at all",
      4L -> "a@b.co and 1.2.3.4 and +31-20-555-0199",
      // literal placeholders already present must be COUNTED (the spec's
      // placeholders-present rule), and pattern-adjacent traps
      5L -> "<EMAIL> was here with 12-34-56a@b.com and 1.2.3.4.5"))
    val cols = Seq("doc_id", "redacted", "n_emails", "n_ips", "n_phones")
    val kernel = TextOps.piiRedact(df).select(cols.head, cols.tail: _*)
      .collect().map(_.toString).sorted
    val spec = TextOpsRef.piiRedactSpec(df).select(cols.head, cols.tail: _*)
      .collect().map(_.toString).sorted
    assert(kernel === spec)
    // registered SQL surface
    graft.functions.GraftExtensions.register(spark)
    df.createOrReplaceTempView("pii_in")
    val sqlRows = spark.sql(
      """SELECT doc_id, p.redacted AS redacted, p.n_emails AS n_emails,
        |       p.n_ips AS n_ips, p.n_phones AS n_phones
        |FROM (SELECT doc_id, pii_redact(text) AS p FROM pii_in)""".stripMargin)
      .collect().map(_.toString).sorted
    assert(sqlRows === spec)
  }

  test("rolling hash is deterministic and order-sensitive") {
    assert(TextOps.rollingHash64("abc") === TextOps.rollingHash64("abc"))
    assert(TextOps.rollingHash64("abc") !== TextOps.rollingHash64("acb"))
    assert(TextOps.rollingHash64("") === 1125899906842597L)
  }

  test("shingles: w-word windows, distinct, empty below w words") {
    val df = docsDf(Seq(1L -> "a b c d e f", 2L -> "a b"))
    val sh = df.select(col("doc_id"), TextOps.shingles(col("text"), 5).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L).length === 2) // [a..e], [b..f]
    assert(sh(1L).head === Seq("a", "b", "c", "d", "e").mkString(TextOps.ShingleSep))
    assert(sh(2L).isEmpty)
  }

  test("repetition ratio: fully repeated text scores high, all-distinct scores 0, short text is NULL") {
    val df = docsDf(Seq(
      1L -> "a b c a b c a b c a b c",   // 10 windows, only 3 distinct (cyclic)
      2L -> "q w e r t y u i o p",        // all 8 windows distinct
      3L -> "a b"))                       // < w words: 0 windows
    val r = graft.llm.TextOps.repetitionStats(df, w = 3)
      .select("doc_id", "n_windows", "n_distinct", "rep_ratio")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(2L).getDouble(3) === 0.0)
    assert(r(1L).getDouble(3) > 0.5, "repeated text must score high")
    assert(r(3L).getLong(1) === 0L && r(3L).isNullAt(3))
    // invariant: distinct <= windows
    r.values.foreach(x => assert(x.getLong(2) <= math.max(x.getLong(1), 0)))
  }

  test("sequence packing: greedy budget boundaries, oversize doc isolated, per-stratum reset") {
    val s = spark
    import s.implicits._
    // n_words: doc text is n space-separated tokens
    def doc(id: Long, lang: String, n: Int) = (id, lang, Seq.fill(n)("w").mkString(" "))
    val df = Seq(
      doc(1, "en", 4), doc(2, "en", 4),   // 4+4=8 <= 10 -> seq 0
      doc(3, "en", 3),                     // 8+3 > 10 -> seq 1
      doc(4, "en", 25),                    // oversize: own seq 2
      doc(5, "en", 1),                     // after oversize -> seq 3
      doc(6, "de", 10),                    // exact fit -> de seq 0
      doc(7, "de", 1)                      // 10+1 > 10 -> de seq 1
    ).toDF("doc_id", "lang", "text")
    val out = graft.llm.TextOps.packSequences(df, budget = 10L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("lang"), r.getAs[Long]("seq_id"), r.getAs[Long]("seq_tokens"))).toMap
    assert(out(1L) === (("en", 0L, 4L)))
    assert(out(2L) === (("en", 0L, 8L)))
    assert(out(3L) === (("en", 1L, 3L)))
    assert(out(4L) === (("en", 2L, 25L)), "oversize doc gets its own sequence, never dropped")
    assert(out(5L) === (("en", 3L, 1L)))
    assert(out(6L) === (("de", 0L, 10L)), "exact fit stays in the sequence")
    assert(out(7L) === (("de", 1L, 1L)), "stratum state resets per lang")
  }

  test("tfidf top terms: golden ranks and scores on a hand-computed corpus") {
    // 3 docs, N=3. "x" appears in all docs (df=3, idf=ln(1)=0);
    // "rare" only in doc 1 (df=1); "mid" in docs 1+2 (df=2).
    val df = docsDf(Seq(
      1L -> "rare rare mid x",
      2L -> "mid x x",
      3L -> "x only3"))
    val out = graft.llm.TextOps.tfidfTopTerms(df, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(5)) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 1: rare tf=2 df=1 -> 2*ln(3)=2.197225; mid tf=1 df=2 -> ln(1.5)
    assert(out((1L, 1L)) === (("rare", 2L, 1L, 2.197225)))
    assert(out((1L, 2L)) === (("mid", 1L, 2L, 0.405465)))
    // doc 2: x tf=2 but df=3 -> score 0 still ranks first on raw tf
    assert(out((2L, 1L)) === (("x", 2L, 3L, 0.0)))
    assert(out((2L, 2L)) === (("mid", 1L, 2L, 0.405465)))
    // doc 3: tie tf=1 — df asc puts the rarer "only3" first
    assert(out((3L, 1L)) === (("only3", 1L, 1L, 1.098612)))
    assert(out((3L, 2L)) === (("x", 1L, 3L, 0.0)))
  }

  test("bigram LM: golden add-one-smoothed scores on a hand-computed corpus") {
    // corpus: "a b a", "a b" -> c1(a)=3, c1(b)=2, V=2; c2("a b")=2, c2("b a")=1
    // doc1: avg(ln(3/5), ln(2/4)) = -0.6019864...; doc2: ln(3/5) = -0.5108256...
    val got = TextOps.bigramLm(docsDf(Seq(1L -> "a b a", 2L -> "a b")))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, -0.601986), (2L, 1L, -0.510826)))
    graft.SessionResources.release(spark)
  }

  test("bigram LM matches a driver-side reference on random corpora") {
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("a", "b", "c", "dd", "ee")
    (1 to 5).foreach { trial =>
      val docs = (1L to 20L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // reference: plain Scala maps, the operator's exact formula
      val words = docs.map { case (id, t) => id -> t.split(" ").toSeq }
      val c1 = words.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.size }
      val v = c1.size
      val bigrams = words.map { case (id, w) =>
        id -> w.sliding(2).filter(_.size == 2).map(p => (p(0), p.mkString(" "))).toSeq
      }.filter(_._2.nonEmpty)
      val c2 = bigrams.flatMap(_._2.map(_._2)).groupBy(identity)
        .map { case (b, o) => b -> o.size }
      val expect = bigrams.map { case (id, bs) =>
        val lps = bs.map { case (w1, b2) =>
          math.log((c2(b2) + 1.0) / (c1(w1) + v.toDouble)) }
        (id, bs.size.toLong,
          BigDecimal(lps.sum / lps.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
      val got = TextOps.bigramLm(docsDf(docs))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expect, s"trial $trial diverged")
      graft.SessionResources.release(spark)
    }
  }

  test("langid picks the profile with most stopword hits, tie-break alphabetical") {
    val df = docsDf(Seq(
      1L -> "the cat of the house and a dog", // en
      2L -> "der hund und die katze ist da",  // de
      3L -> "xyz"))                           // no hits -> tie -> de
    val got = TextOps.langIdScores(df).select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "de"))
  }

  test("gopher rules attribute rejections to the right rule, integer-exact") {
    val good = "the quick brown fox and the lazy dog have fun with all of " +
      (1 to 24).map(i => s"word$i").mkString(" ") // 36 words, all alpha, 2+ stops
    val df = docsDf(Seq(
      1L -> good,                                    // passes everything
      2L -> "the of and with short",                 // wc_ok fails (5 words)
      3L -> good.replace("word1", "### ### ### ###"), // symbol ratio fails
      4L -> good.replace("fox", "supercalifragilisticexpialidocious" * 12),
      5L -> ((1 to 36).map(i => s"w$i").mkString(" ")))) // no stop hits
    val got = TextOps.gopherRules(df)
      .select("doc_id", "wc_ok", "mwl_ok", "sym_ok", "alpha_ok", "stop_ok", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6))).toMap
    assert(got(1L) === ((true, true, true, true, true, true)))
    assert(!got(2L)._1 && !got(2L)._6, "doc 2 must fail on word count")
    assert(!got(3L)._3 && !got(3L)._6, "doc 3 must fail on symbol ratio")
    assert(!got(4L)._2 && !got(4L)._6, "doc 4 must fail on mean word length")
    assert(!got(5L)._5 && !got(5L)._6, "doc 5 must fail on stopword presence")
    // the battery is map-only: no exchange anywhere in the plan
    val p = TextOps.gopherRules(df).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"gopher battery must not shuffle:\n$p")
  }

  test("native word_count/stopword_count match the split/filter HOF forms exactly") {
    val stop = TextOps.StopEn
    val hofWc = size(TextOps.words(col("text")))
    val hofSc = size(filter(TextOps.words(col("text")),
      w => w.isin(stop.map(s => s: Any): _*)))
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val bad = df.select(
        hofWc.as("wc_hof"), TextOps.wordCount(col("text")).as("wc_nat"),
        hofSc.as("sc_hof"),
        graft.functions.TextExpressions.stopwordCount(col("text"), stop).as("sc_nat"))
        .filter(col("wc_hof") =!= col("wc_nat") || col("sc_hof") =!= col("sc_nat"))
        .count()
      assert(bad === 0L)
    }
    check(docs)
    // edges: empty text, bare/double separators, multibyte UTF-8, the
    // stopword as a substring (must NOT count) and standalone (must count)
    check(docsDf(Seq(1L -> "", 2L -> " ", 3L -> "a  b", 4L -> "héllo the wörld",
      5L -> "the", 6L -> "theatre lathe the", 7L -> "of of of and to a")))
  }

  test("native regex_token_count matches size(regexp_extract_all) exactly, incl. non-ASCII fallback") {
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val bad = df.select(
        size(TextOpsRef.regexTokens(col("text"))).as("hof"),
        TextOps.regexTokenCount(col("text")).as("nat"))
        .filter(col("hof") =!= col("nat")).count()
      assert(bad === 0L)
    }
    check(docs)
    check(docsDf(Seq(1L -> "", 2L -> "Hello, World42!", 3L -> "a1b2 c3",
      4L -> "MiXeD CaSe RUNS", 5L -> "héllo wörld İstanbul", // fallback path
      6L -> "...!!!", 7L -> "  double  spaces  ", 8L -> "42 4a a4")))
  }

  test("native shingle_hashes yields the same distinct-shingle cardinalities as the HOF form") {
    val hofCard = size(array_distinct(transform(
      TextOps.shingles(col("text"), 5), s => xxhash64(s))))
    val natCard = size(graft.functions.TextExpressions.shingleHashes(col("text"), 5))
    val bad = docs.select(hofCard.as("h"), natCard.as("n"))
      .filter(col("h") =!= col("n")).count()
    assert(bad === 0L)
    // below-w documents produce empty shingle sets in both forms
    val tiny = docsDf(Seq(1L -> "a b c d", 2L -> "a b c d e", 3L -> ""))
      .select(col("doc_id"), natCard.as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tiny === Map(1L -> 0, 2L -> 1, 3L -> 0))
  }

  // ---- similarity -----------------------------------------------------------

  test("ANN-LSH recall@5 vs brute force is usable and the plan has no cartesian") {
    val queries = emb.filter(col("vec_id") < 32)
    val brute = Similarity.knnBrute(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val ann = Similarity.annLsh(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val recalls = brute.map { case (q, trueNs) =>
      trueNs.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / trueNs.size
    }
    val meanRecall = recalls.sum / recalls.size
    info(f"ANN-LSH mean recall@5 = $meanRecall%.3f over ${recalls.size} queries")
    // defaults (16 tables x 4 planes) measure 0.856/0.913/0.944 at
    // sf0.001/0.01/0.1 — deterministic planes, so 0.7 is a real floor,
    // not a flaky threshold (r2's 8x5 defaults sat at 0.45)
    assert(meanRecall >= 0.7, f"recall too low: $meanRecall%.3f")

    val plan = Similarity.annLsh(emb, queries, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in ANN plan:\n$plan")
    // candidate dedup is folded into the rerank join's neighbor-keyed
    // aggregate — a pair-keyed exchange would mean the ids shuffle twice
    assert("hashpartitioning\\(query_id#\\d+L?, neighbor_id".r
      .findFirstIn(plan).isEmpty,
      s"pair-keyed candidate exchange back in the ANN plan:\n$plan")
  }

  test("PQ-ANN recall@5 vs brute force is usable; ADC hot path is UDF-free") {
    val queries = emb.filter(col("vec_id") < 32)
    val brute = Similarity.knnBrute(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val pq = Similarity.annPq(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val recalls = brute.map { case (q, trueNs) =>
      trueNs.intersect(pq.getOrElse(q, Set.empty)).size.toDouble / trueNs.size
    }
    val meanRecall = recalls.sum / recalls.size
    info(f"PQ-ANN mean recall@5 = $meanRecall%.3f over ${recalls.size} queries")
    // deterministic codebooks (stride init over a hash-ordered sample), so
    // the floor is stable, not flaky
    assert(meanRecall >= 0.6, f"recall too low: $meanRecall%.3f")

    val plan = Similarity.annPq(emb, queries, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in PQ plan:\n$plan")
  }

  test("IVFADC recall@5 vs brute force holds the component floor; cell join prunes the scan") {
    val queries = emb.filter(col("vec_id") < 32)
    val brute = Similarity.knnBrute(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val got = Similarity.annIvfPq(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val recalls = brute.map { case (q, trueNs) =>
      trueNs.intersect(got.getOrElse(q, Set.empty)).size.toDouble / trueNs.size
    }
    val meanRecall = recalls.sum / recalls.size
    info(f"IVFADC mean recall@5 = $meanRecall%.3f over ${recalls.size} queries")
    // deterministic training (stride init, hash-ordered sample) on both
    // quantizers, so the floor is stable, not flaky
    assert(meanRecall >= 0.6, f"recall too low: $meanRecall%.3f")
    // deterministic end to end
    val again = Similarity.annIvfPq(emb, queries, k = 5).collect()
    val first = Similarity.annIvfPq(emb, queries, k = 5).collect()
    assert(again.map(_.toString).sorted === first.map(_.toString).sorted)
    val plan = Similarity.annIvfPq(emb, queries, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in IVFADC plan:\n$plan")
  }

  test("CDC chunking: identical runs share chunks regardless of offset; disjoint docs share none") {
    // doc 2 contains doc 1's full text shifted right by a prefix — content-
    // defined boundaries must reproduce the same chunks inside the shared
    // run, so the two docs share chunks even though no fixed-width window
    // would align. Doc 3 has a disjoint vocabulary: zero shared chunks.
    val shared = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = docsDf(Seq(
      1L -> shared,
      2L -> (s"prefix alpha beta $shared"),
      3L -> (1 to 40).map(i => s"z$i").mkString(" ")))
    val out = Dedup.chunkSharedContent(df, modBoundary = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) > 0, "doc 1 should share chunks with its shifted copy")
    assert(out(2L) > 0, "doc 2 should share chunks with the original")
    assert(out(3L) === 0, "disjoint-vocabulary doc must share nothing")
  }

  test("CDC remover: first owner keeps its text verbatim, later docs lose the shared spans") {
    // same planted-shift fixture as the audit test: doc 2 embeds doc 1's
    // full text behind a prefix; doc 3 is vocabulary-disjoint
    val shared = (1 to 40).map(i => s"w$i").mkString(" ")
    val text3 = (1 to 40).map(i => s"z$i").mkString(" ")
    val df = docsDf(Seq(
      1L -> shared,
      2L -> s"prefix alpha beta $shared",
      3L -> text3))
    val out = Dedup.chunkDedupRemove(df, modBoundary = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // chunking partitions the word sequence, so a doc that owns all its
    // chunks re-joins to its original text exactly
    assert(out(1L) === ((shared, out(1L)._2, 0L)), "first owner must keep everything")
    assert(out(3L)._1 === text3 && out(3L)._3 === 0L, "disjoint doc untouched")
    val (clean2, n2, rem2) = out(2L)
    assert(rem2 > 0, "doc 2 must lose the spans doc 1 already owns")
    assert(clean2.length < s"prefix alpha beta $shared".length)
    assert(clean2.startsWith("prefix"), "doc 2 keeps its own prefix")
    assert(n2 - rem2 >= 1, "doc 2 keeps at least its unshared chunk(s)")
  }

  test("DSIR weights rank target-vocabulary docs above source-only docs, deterministically") {
    val s = spark
    import s.implicits._
    val en = (1 to 4).map(i => (i.toLong, "en", s"apple banana cherry durian e$i"))
    val de = (5 to 8).map(i => (i.toLong, "de", s"katze hund maus vogel k$i"))
    val df = (en ++ de).toDF("doc_id", "lang", "text")
    def run() = TextOps.dsirWeights(df, isTarget = col("lang") === "en", k = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val w = run()
    val enMin = (1L to 4L).map(w).min
    val deMax = (5L to 8L).map(w).max
    // target tokens have ct ~= cs (log-ratio ~= 0 + positive constant);
    // source-only tokens have ct = 0 (log-ratio strictly negative + const)
    assert(enMin > deMax, s"en min $enMin should exceed de max $deMax")
    assert(run() === w, "integer micro-log scores must be rerun-deterministic")
  }

  test("hashed linear quality score matches a scala recompute of the md5 micro-weights") {
    def md5hex8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    def mweight(tok: String): Long =
      md5hex8("qw" + (md5hex8(tok) % 256).toString) % 2000001L - 1000000L
    val df = docsDf(Seq(1L -> "alpha beta gamma", 2L -> "delta", 3L -> ""))
    val got = TextOps.qualityScoreLinear(df, k = 256, tauMicro = 0L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val expect = Map(
      1L -> Seq("alpha", "beta", "gamma"),
      2L -> Seq("delta"),
      3L -> Seq("")) // split('') is [''] — the empty token scores too
    expect.foreach { case (id, toks) =>
      val score = toks.map(mweight).sum
      assert(got(id) === ((toks.length.toLong, score, if (score > 0) 1L else 0L)),
        s"doc $id")
    }
  }

  test("cluster-keep-best elects each component's (q_mscore, doc_id) argmax") {
    val comps = Dedup.dedupComponents(
        Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2).select("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))) // (doc_id, comp_id)
    assert(comps.nonEmpty, "fixture should produce near-dup components")
    val score = TextOps.qualityScoreLinear(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expected = comps.groupBy(_._2).map { case (comp, members) =>
      val best = members.map { case (id, _) => (score(id), id) }.max
      comp -> ((members.length.toLong, best._2, best._1))
    }
    val got = graft.queries.DedupQueries("d15_cluster_keep_best")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
  }

  test("hamming: sign-bit packing is semantics-free and top-k matches the window form") {
    // 1. packing equivalence: popcount(xor) over packed words == count of
    //    dims whose sign (x >= 0) disagrees, computed straight off the floats
    val a = emb.select(col("vec_id"), col("embedding"))
    val b = emb.select(col("vec_id").as("vid_b"), col("embedding").as("emb_b"))
    graft.functions.GraftExtensions.register(spark)
    val pairs = a.join(b, col("vec_id") < col("vid_b") - 480) // sparse pair sample
      .select(col("vec_id"), col("vid_b"),
        Similarity.signBits(col("embedding")).as("sig_a"),
        Similarity.signBits(col("emb_b")).as("sig_b"),
        aggregate(zip_with(col("embedding"), col("emb_b"),
            (x, y) => when((x >= 0f) =!= (y >= 0f), 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("ham_naive"))
      .select(col("vec_id"), col("vid_b"), col("ham_naive"),
        expr("hamming_dist(sig_a, sig_b)").as("ham_native"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(3) === r.getLong(2),
        s"native hamming_dist diverged for (${r.getLong(0)}, ${r.getLong(1)})")
    }

    // 2. the heap-aggregate top-k equals the row_number window form
    val queries = emb.filter(col("vec_id") < 16)
    val viaHeap = Similarity.hammingAnn(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val scored = emb.select(col("vec_id").as("neighbor_id"),
        Similarity.signBits(col("embedding")).as("c_sig"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        Similarity.signBits(col("embedding")).as("q_sig"))),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("ham", graft.functions.VectorExpressions.hammingDist(col("q_sig"), col("c_sig")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("ham").asc, col("neighbor_id").asc)
    val viaWindow = scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("ham"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaHeap === viaWindow)
  }

  test("hamming shortlist + exact rerank recalls far better than raw hamming top-k") {
    val queries = emb.filter(col("vec_id") < 32)
    def topsets(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val brute = topsets(Similarity.knnBrute(emb, queries, k = 5))
    def recall(ann: Map[Long, Set[Long]]) = {
      val rs = brute.map { case (q, t) => t.intersect(ann.getOrElse(q, Set.empty)).size / 5.0 }
      rs.sum / rs.size
    }
    val raw = recall(topsets(Similarity.hammingAnn(emb, queries, k = 5)))
    val reranked = recall(topsets(Similarity.hammingRerank(emb, queries, k = 5)))
    info(f"hamming raw recall@5 = $raw%.3f, shortlist-50 + exact rerank = $reranked%.3f")
    // raw 64-bit sign quantization is a coarse filter (~0.2-0.3 here); the
    // 50-candidate shortlist + exact rerank must recover most of the truth
    assert(reranked >= raw + 0.2, f"rerank must materially improve recall: $raw%.3f -> $reranked%.3f")
    assert(reranked >= 0.5, f"composed recall too low: $reranked%.3f")
  }

  test("IVF ANN: centroid probing recalls well and the plan is an equi-join") {
    val queries = emb.filter(col("vec_id") < 32)
    val brute = Similarity.knnBrute(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val ivf = Similarity.annIvf(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val recalls = brute.map { case (q, trueNs) =>
      trueNs.intersect(ivf.getOrElse(q, Set.empty)).size.toDouble / trueNs.size
    }
    val meanRecall = recalls.sum / recalls.size
    info(f"IVF mean recall@5 (defaults: c=sqrt(n), nprobe=12) = $meanRecall%.3f")
    // defaults measure 0.869/0.850/0.756 at sf0.001/0.01/0.1; sampling and
    // centroid training are deterministic, so 0.7 is a real floor
    assert(meanRecall >= 0.7, f"IVF recall too low: $meanRecall%.3f")
    val plan = Similarity.annIvf(emb, queries, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in IVF plan:\n$plan")
    assert("hashpartitioning\\(query_id#\\d+L?, neighbor_id".r
      .findFirstIn(plan).isEmpty,
      s"pair-keyed candidate exchange back in the IVF plan:\n$plan")
  }

  test("random projection: deterministic signs and JL distance preservation at d'=32") {
    // the sign rule is pure: same (p, j) -> same sign, and roughly balanced
    val signs = for (p <- 0 until 32; j <- 0 until 64)
      yield Similarity.projectionSign(p, j)
    assert(signs.forall(s => s == 1.0 || s == -1.0))
    val plus = signs.count(_ == 1.0).toDouble / signs.size
    assert(plus > 0.4 && plus < 0.6, s"sign balance off: $plus")

    val sample = emb.filter(col("vec_id") < 40)
    val raw = sample.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val proj = Similarity.randomProjection(sample, dims = 64, outDims = 32)
      .collect()
      .map(r => r.getLong(0) -> (1 until 33).map(r.getDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // E[||P(a-b)||^2] = d' * ||a-b||^2 for +-1 planes: the scaled ratio
    // concentrates around 1 (Johnson-Lindenstrauss)
    val ids = raw.keys.toSeq.sorted
    val ratios = for (i <- ids.indices; j <- 0 until i) yield {
      val (a, b) = (ids(i), ids(j))
      d2(proj(a), proj(b)) / (32.0 * d2(raw(a), raw(b)))
    }
    assert(ratios.forall(r => r > 0.35 && r < 2.5),
      s"pairwise distortion out of range: min=${ratios.min} max=${ratios.max}")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.85 && mean < 1.15, s"mean distortion $mean")
  }

  test("grid cosine pairs match the declarative all-pairs join bit-for-bit") {
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val declarative = collect(SimilarityRef.cosinePairs(emb, minCos = 0.3))
    assert(declarative.nonEmpty)
    // a degenerate single-cell grid, mid/odd widths, and the in-plan AUTO
    // sizing (numBlocks=0) must all agree exactly: cell decomposition is
    // semantics-free, so B is a pure partitioning choice
    for (b <- Seq(0, 1, 8, 13)) {
      val grid = collect(Similarity.cosinePairsGrid(emb, minCos = 0.3, numBlocks = b))
      assert(grid === declarative, s"numBlocks=$b diverged")
    }
  }

  test("both all-pairs forms drop zero-norm (NaN-cosine) vectors identically") {
    val s = spark
    import s.implicits._
    // Spark's NaN-safe ordering ranks NaN above every number, so without
    // the explicit !isnan filter the declarative join would KEEP the
    // zero-norm pairs the grid kernel's scala-side >= drops (ADVICE r6)
    val z = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)), (4L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val decl = collect(SimilarityRef.cosinePairs(z, minCos = -1.0))
    val grid = collect(Similarity.cosinePairsGrid(z, minCos = -1.0, numBlocks = 3))
    assert(decl === grid, s"NaN handling diverged: decl=$decl grid=$grid")
    assert(decl.map(p => (p._1, p._2)) === Set((1L, 2L)),
      "only the finite-cosine pair survives")
  }

  test("native vec_dot/vec_norm match the HOF fold bit-for-bit") {
    graft.functions.GraftExtensions.register(spark)
    val pairs = emb.limit(50).select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.limit(5).select(col("vec_id").as("ib"), col("embedding").as("eb")))
    val diffs = pairs.select(
      (expr("vec_dot(ea, eb)") -
        SimilarityRef.dot(col("ea"), col("eb"))).as("d_dot"),
      (expr("vec_norm(ea)") - SimilarityRef.norm(col("ea"))).as("d_norm"))
      .agg(max(abs(col("d_dot"))), max(abs(col("d_norm")))).head()
    assert(diffs.getDouble(0) === 0.0) // identical sequential double fold
    assert(diffs.getDouble(1) === 0.0)
  }

  test("cosine HOF matches a scala-side computation") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f, 0.0f, 1.0f), Array(0.5f, 0.5f, 0.0f)))
      .toDF("a", "b")
    val got = df.select(SimilarityRef.cosine(col("a"), col("b")).as("c"))
      .collect().head.getDouble(0)
    val expect = 0.5 / (math.sqrt(2.0) * math.sqrt(0.5))
    assert(math.abs(got - expect) < 1e-12)
  }

  test("vec_sum aggregate matches the posexplode composition, with map-side partials") {
    val viaAgg = emb.groupBy(col("label"))
      .agg(graft.functions.VectorAggregates.vecSum(col("embedding")).as("s"))
      .select(col("label"), posexplode(col("s")).as(Seq("pos", "v")))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val viaExplode = emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v").cast("double")).as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(viaAgg.keySet === viaExplode.keySet)
    viaAgg.foreach { case (k, v) =>
      assert(math.abs(v - viaExplode(k)) < 1e-9, s"dim $k: $v vs ${viaExplode(k)}")
    }
    // one buffer row per group, combined map-side before the exchange
    val q = emb.groupBy(col("label"))
      .agg(graft.functions.VectorAggregates.vecSum(col("embedding")).as("s"))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_vec_sum"),
      s"vec_sum should partial-aggregate map-side:\n$p")

    // null elements skipped; an all-null position yields NULL, exactly
    // like posexplode -> groupBy(pos) -> sum (SQL sum of only-nulls)
    val s2 = spark
    import s2.implicits._
    val withNulls = Seq(
      (0, Seq(Option(1.0f), None, Option(3.0f), None)),
      (0, Seq(Option(2.0f), Option(5.0f), None, None)))
      .toDF("label", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val sums = withNulls.groupBy("label")
      .agg(graft.functions.VectorAggregates.vecSum(col("embedding")).as("s"))
      .head().getSeq[Any](1)
    assert(sums === Seq(3.0, 5.0, 3.0, null))
  }

  test("nearDupAdmit: rejects cross-corpus near-dups, admits novel and no-shingle docs") {
    val corpus = docsDf(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three four five six seven eight nine ten eleven twelve"))
    val batch = docsDf(Seq(
      // ~verbatim copy of corpus doc 1 -> must be rejected
      10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      // near-dup of corpus doc 2 (one word appended) -> rejected at minJ=0.5
      11L -> "one two three four five six seven eight nine ten eleven twelve extra",
      // novel content -> admitted
      12L -> "completely unrelated sentences about columnar storage engines here",
      // too short to shingle (w=5) -> no signature, must still be ADMITTED
      13L -> "tiny doc"))
    val index = Dedup.withSignatures(corpus, w = 5, k = 32)
      .filter(col("sig").isNotNull)
    val admitted = Dedup.nearDupAdmit(batch, index, w = 5, k = 32, bands = 16,
        minJ = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted === Seq(12L, 13L), s"admission set wrong: $admitted")
    // identical result served from the persisted bucketed index
    Dedup.buildMinhashIndex(corpus, "admit_idx_t", w = 5, k = 32, buckets = 2)
    val viaIndex = Dedup.nearDupAdmit(batch,
        graft.relational.Bucketing.read(spark, "admit_idx_t"),
        w = 5, k = 32, bands = 16, minJ = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaIndex === admitted)
  }

  // ---- BM25 -----------------------------------------------------------------

  test("bm25: a 1000-term query table scores the 3-term subset identically (DSIR shape)") {
    val s = spark
    import s.implicits._
    // the production query side is a whole target-domain vocabulary; terms
    // absent from the corpus must not perturb any score (they generate no
    // postings, so df/tf/stats are untouched)
    val three = Seq("stream", "data", "query").toDF("term")
    val thousand = (Seq("stream", "data", "query") ++
      (1 to 997).map(i => s"__absent_term_$i")).toDF("term")
    val a = TextOps.bm25(docs, three).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val b = TextOps.bm25(docs, thousand).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(a.nonEmpty, "fixture corpus should match the query terms")
    assert(a === b, "query-vocabulary size changed scores")
    // and the term probe is a broadcast equi-join, not a giant isin predicate
    val p = TextOps.bm25(docs, thousand).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"term probe not broadcast:\n$p")
    assert(!p.toLowerCase.contains(" in("), s"isin predicate crept back:\n$p")
  }

  // ---- multimodal -----------------------------------------------------------

  test("multimodal: payload round-trips, decode stub checksums bytes, frames slice") {
    val media = Multimodal.fromDocuments(docs)
    val one = media.filter(col("doc_id") === 0).head()
    val text = docs.filter(col("doc_id") === 0).head().getAs[String]("text")
    assert(new String(one.payload, "UTF-8") === text)
    assert(one.mime === "text/plain")

    val feats = Multimodal.decodeFeatures(media).filter(col("doc_id") === 0).head()
    val bytes = text.getBytes("UTF-8")
    assert(feats.n_bytes === bytes.length.toLong)
    assert(feats.checksum === bytes.map(b => (b & 0xff).toLong).sum)
    assert(feats.feature.length === Multimodal.MediaCodecStub.FeatureDim)

    val frames = Multimodal.sampleFrames(media, n = 4, frameBytes = 16)
      .filter(col("doc_id") === 0).collect().head
    assert(frames.getAs[Long]("n_sampled") === 4L)
    assert(frames.getAs[Seq[Array[Byte]]]("frames").forall(_.length <= 16))
  }

  test("perceptual_hash kernel == MediaCodecStub.phash spec (property, incl. edge payloads)") {
    // the native codegen Expression replaced the mapPartitions stub call in
    // the hot path; the stub stays as the executable spec — they must agree
    // byte-for-byte on arbitrary payloads, through the REAL engine path
    // (codegen, columnar scan), not just the interpreted kernel.
    val rnd = new scala.util.Random(42)
    val payloads: Seq[Array[Byte]] =
      Seq(Array.emptyByteArray, Array[Byte](0), Array[Byte](-1),
        Array.fill(63)(rnd.nextInt(256).toByte), Array.fill(64)(rnd.nextInt(256).toByte),
        Array.fill(65)(rnd.nextInt(256).toByte)) ++
        (1 to 30).map(_ => Array.fill(1 + rnd.nextInt(500))(rnd.nextInt(256).toByte))
    // interpreted kernel == spec
    payloads.foreach { p =>
      assert(graft.functions.PerceptualHash.hash(p).toSeq ===
        PhashRef.phash(p).toSeq, s"len=${p.length}")
    }
    // engine path (codegen) == spec
    val s = spark
    import s.implicits._
    val df = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "payload")
    val viaEngine = df.select(col("id"),
        graft.functions.MediaExpressions.perceptualHash(col("payload")).as("ph"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    payloads.zipWithIndex.foreach { case (p, i) =>
      assert(viaEngine(i.toLong) === PhashRef.phash(p).toSeq,
        s"engine diverged from spec at len=${p.length}")
    }
  }

  test("phash near-dup: identical payloads at ham 0, near pairs within 3, disjoint absent") {
    val s = spark
    import s.implicits._
    val base = ("the quick brown fox jumps over the lazy dog and keeps " +
      "running through the long field " * 3).trim
    val planted = Seq(
      (1L, base), (2L, base),          // identical -> ham 0
      (3L, base + " x"),               // tiny perturbation -> small ham
      (4L, "completely different content about database engines and " +
        "columnar storage layouts with nothing shared " * 3)
    ).toDF("doc_id", "text")
    val pairs = Multimodal.phashNearDup(Multimodal.fromDocuments(planted), maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) === 0L, s"identical payloads must hash equal: $pairs")
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L },
      s"disjoint content leaked in: $pairs")
    // the banded candidate path found exactly what the quadratic scan finds
    val ph = Multimodal.perceptualHash(Multimodal.fromDocuments(planted)).collect()
      .map(p => p.doc_id -> Array(p.b0, p.b1, p.b2, p.b3)).toMap
    val exact = (for {
      a <- ph.keys; b <- ph.keys if a < b
      h = (0 until 4).map(i => java.lang.Long.bitCount(ph(a)(i) ^ ph(b)(i))).sum
      if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(pairs === exact, s"banded != quadratic: $pairs vs $exact")
  }

  // ---- SemDeDup -------------------------------------------------------------

  test("semanticDedup: cluster-bounded pruning of the exact grid, one survivor per component") {
    val out = Dedup.semanticDedup(emb, tau = 0.35).collect()
    assert(out.length === emb.count())
    // rows: (vec_id, cl, comp_id, cos_c, kept)
    val byComp = out.groupBy(_.getLong(2))
    byComp.foreach { case (comp, rows) =>
      // pairs never cross a cluster, so neither can a component
      assert(rows.map(_.getLong(1)).distinct.length === 1,
        s"component $comp spans clusters")
      assert(rows.count(_.getBoolean(4)) === 1,
        s"component $comp must keep exactly one survivor")
      assert(comp === rows.map(_.getLong(0)).min,
        s"component label must be the smallest member id")
    }
    // pruning contract: every duplicate it marks is backed by a REAL
    // cosine pair of the exact quadratic grid (clustering only prunes
    // candidates, it can never invent similarity)
    val exactPaired = SimilarityRef.cosinePairs(emb, 0.35)
      .select("id_a", "id_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val dups = out.filter(r => !r.getBoolean(4)).map(_.getLong(0))
    assert(dups.nonEmpty, "tau=0.35 must find semantic dups at sf0.001")
    dups.foreach(id => assert(exactPaired.contains(id),
      s"vec $id marked dup without any exact cosine pair"))
    // survivor election: the component member LEAST similar to its
    // centroid survives, ties to the smallest id
    byComp.filter(_._2.length > 1).foreach { case (comp, rows) =>
      val want = rows.minBy(r => (r.getDouble(3), r.getLong(0))).getLong(0)
      val got = rows.filter(_.getBoolean(4)).map(_.getLong(0)).head
      assert(got === want, s"component $comp elected $got, want $want")
    }
    // deterministic end to end
    val again = Dedup.semanticDedup(emb, tau = 0.35).collect()
    assert(again.map(_.toString).sorted === out.map(_.toString).sorted)
  }

  test("videoNearDup: identical payloads share all frames, half-replaced share half, disjoint none") {
    val s = spark
    import s.implicits._
    // 1024-byte payloads: 8 frames of 64 bytes at step 128. Doc 2 is an
    // exact copy (8 shared frames); doc 3 keeps the first half and
    // replaces the second with different bytes AT THE SAME LENGTH, so
    // offsets align and exactly the first 4 frames still match; doc 4 is
    // disjoint everywhere.
    // APERIODIC generators (quadratic/cubic residue mixes): a periodic
    // pattern makes every frame's phash collide cross-position and the
    // per-position goldens dissolve; these three profiles were simulated
    // to give exactly 8 / 4 / 0 shared frames for copy / half-swap /
    // disjoint
    def mk(f: Long => Long) = (0L until 1024L).map(i => f(i).toChar).mkString
    val base = mk(i => 'a' + (i * 37 + (i * i) % 41) % 23)
    val other = mk(i => '0' + (i * 53 + (i * i * i) % 29) % 10)
    val third = mk(i => 'A' + (i * 11 + (i * 7) % 13) % 26)
    val halfSwap = base.substring(0, 512) + other.substring(512)
    val df = Seq(1L -> base, 2L -> base, 3L -> halfSwap, 4L -> third)
      .toDF("doc_id", "text")
    val rows = graft.llm.Multimodal.videoNearDup(
        graft.llm.Multimodal.fromDocuments(df), minShared = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(rows.get((1L, 2L)).contains(8L), s"exact copy must share all 8 frames: $rows")
    assert(rows.get((1L, 3L)).contains(4L) && rows.get((2L, 3L)).contains(4L),
      s"half-replaced copy must share exactly the first 4 frames: $rows")
    assert(!rows.keys.exists(k => k._1 == 4L || k._2 == 4L),
      s"disjoint payload must pair with nothing: $rows")
  }

  test("containmentPairs: full quote scores 1.0 where Jaccard stays small; directions asymmetric") {
    // doc 1 is fully quoted inside the much longer doc 2: containment
    // (1 in 2) = 1.0, the reverse direction is small, and Jaccard is
    // diluted by doc 2's size; doc 3 shares nothing
    val quoted = (1 to 10).map(i => s"q$i").mkString(" ")
    val container = quoted + " " + (1 to 40).map(i => s"pad$i").mkString(" ")
    val df = docsDf(Seq(1L -> quoted, 2L -> container,
      3L -> (1 to 20).map(i => s"z$i").mkString(" ")))
    val got = Dedup.containmentPairs(df, w = 5, minC = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    // doc1 has 6 5-shingles, all present in doc2 -> containment 1.0;
    // doc2 has 46 shingles, 6 shared -> 0.1304 < 0.5 (direction dropped)
    assert(got === Set((1L, 2L, 1.0)), s"got $got")
    // the symmetric Jaccard verifier misses this pair at the same bar:
    // 6 / (6 + 46 - 6) = 0.13
    val jac = Dedup.ngramJaccardPairs(df, w = 5, minJ = 0.5).collect()
    assert(jac.isEmpty, "Jaccard at 0.5 must miss the quoted pair containment catches")
  }

  test("containmentSketchPairs: recovers the planted quote and never invents pairs") {
    val quoted = (1 to 10).map(i => s"q$i").mkString(" ")
    val container = quoted + " " + (1 to 40).map(i => s"pad$i").mkString(" ")
    val df = docsDf(Seq(1L -> quoted, 2L -> container,
      3L -> (1 to 20).map(i => s"z$i").mkString(" ")))
    val exact = Dedup.containmentPairs(df, w = 5, minC = 0.5)
      .collect().map(_.toString).toSet
    val sketch = Dedup.containmentSketchPairs(df, w = 5, k = 16, minC = 0.5)
      .collect().map(_.toString).toSet
    // the verify stage is exact, so sketch results are a subset of the
    // full-postings results; the planted full quote (6 shingles, all in
    // a 16-slot sketch) is recovered with certainty, not probability
    assert(sketch.subsetOf(exact), s"sketch invented pairs: ${sketch -- exact}")
    assert(sketch === exact, s"sketch missed: ${exact -- sketch}")
    assert(sketch.nonEmpty)
  }

  test("qualityBuckets: per-language equal-count terciles, fluent docs head, gibberish tail") {
    val s = spark
    import s.implicits._
    // 6 'aa' docs: three repeat the same common phrase (high bigram
    // probability), three are all-unique words (every bigram unseen
    // elsewhere); 4 'bb' docs rank independently of 'aa'
    val docs = Seq(
      (1L, "the cat sat on the mat", "aa"), (2L, "the cat sat on the mat", "aa"),
      (3L, "the cat sat on the mat again", "aa"),
      (4L, "qq ww ee rr tt yy", "aa"), (5L, "uu ii oo pp aa ss", "aa"),
      (6L, "dd ff gg hh jj kk", "aa"),
      (7L, "one two three four", "bb"), (8L, "one two three four", "bb"),
      (9L, "five six seven eight", "bb"), (10L, "nine ten eleven twelve", "bb"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.qualityBuckets(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getString(4)))
    // every scorable doc appears exactly once
    assert(out.map(_._1).sorted === (1L to 10L).toArray)
    // equal-count tiles per language (sizes differ by at most 1)
    for ((lang, grp) <- out.groupBy(_._2)) {
      val sizes = grp.groupBy(_._4).view.mapValues(_.size).values
      assert(sizes.max - sizes.min <= 1, s"$lang tile sizes $sizes")
    }
    // label mapping and order: heads outscore tails within the language
    for ((_, grp) <- out.groupBy(_._2)) {
      val byTile: Map[String, Seq[Double]] =
        grp.groupBy(_._5).map { case (k, v) => k -> v.map(_._3).toSeq }
      assert(grp.forall(r => (r._4 == 1L) == (r._5 == "head")))
      assert(grp.forall(r => (r._4 == grp.map(_._4).max) == (r._5 == "tail")))
      for (h <- byTile.getOrElse("head", Seq.empty);
           t <- byTile.getOrElse("tail", Seq.empty))
        assert(h >= t, s"head score $h below tail score $t")
    }
    // the planted fluent docs rank head, the gibberish tail, in 'aa'
    val aa = out.filter(_._2 == "aa")
    assert(aa.filter(_._5 == "head").map(_._1).toSet.subsetOf(Set(1L, 2L, 3L)))
    assert(aa.filter(_._5 == "tail").map(_._1).toSet.subsetOf(Set(4L, 5L, 6L)))
  }

  test("MIPS: dot ranking differs from cosine; augmented-cosine reduction reproduces it rank-for-rank") {
    // the testdata embeddings are ~unit-norm (dot == cosine there), so
    // plant MAGNITUDE: scale each vector by 1 + vec_id % 5 — direction
    // untouched, norms spread 1x-5x, exactly the popularity/quality
    // scaling regime MIPS exists for
    val scaled = emb.withColumn("embedding",
      transform(col("embedding"),
        x => (x * (lit(1.0f) + (col("vec_id") % 5).cast("float"))).cast("float")))
    val queries = scaled.filter(col("vec_id") < 8)
    val mips = Similarity.mipsBrute(scaled, queries, k = 5)
      .select("query_id", "neighbor_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(mips.nonEmpty)
    // MIPS is NOT cosine top-k once magnitude carries signal
    val cosine = Similarity.knnBrute(scaled, queries, k = 5)
      .select("query_id", "neighbor_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(mips !== cosine, "fixture degenerate: dot and cosine rankings coincide")
    // the Bachrach/Neyshabur reduction: cosine top-k over the AUGMENTED
    // space (corpus padded to constant norm M, query padded with 0)
    // reproduces the inner-product ranking exactly — the lemma that lets
    // every cosine ANN index serve MIPS
    val withNorm = scaled.withColumn("__nrm", graft.functions.VectorExpressions.vecNorm(col("embedding")))
    val m = withNorm.agg(max(col("__nrm"))).head().getDouble(0)
    val corpusAug = withNorm
      .withColumn("embedding", concat(col("embedding"), array(
        sqrt(greatest(lit(m * m) - col("__nrm") * col("__nrm"), lit(0.0))).cast("float"))))
      .drop("__nrm")
    val queriesAug = queries
      .withColumn("embedding", concat(col("embedding"), array(lit(0.0f))))
    val viaAug = Similarity.knnBrute(corpusAug, queriesAug, k = 5)
      .select("query_id", "neighbor_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(viaAug === mips,
      s"augmented-cosine ranking diverged from MIPS:\n aug=$viaAug\n mips=$mips")
  }

  test("semanticAdmit: rejects a paraphrase-close vector, admits novel and anti-aligned ones") {
    val s = spark
    import s.implicits._
    def v(xs: Float*) = xs.toArray
    val corpus = Seq((100L, v(1f, 0f, 0f, 0f), "a")).toDF("vec_id", "embedding", "label")
    val batch = Seq(
      (1L, v(0.99f, 0.1f, 0f, 0f), "a"), // cos ~0.995 with corpus -> reject
      (2L, v(0f, 1f, 0f, 0f), "b"),      // orthogonal -> admit
      (3L, v(-1f, 0f, 0f, 0f), "c"))     // anti-aligned (cos -1) -> admit
      .toDF("vec_id", "embedding", "label")
    val admitted = Similarity.semanticAdmit(batch, corpus, tau = 0.35)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted === Seq(2L, 3L), s"admitted $admitted")
    // empty corpus: everything admits (first-day bootstrap)
    val bootstrap = Similarity.semanticAdmit(batch, corpus.filter(lit(false)), tau = 0.35)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(bootstrap === Seq(1L, 2L, 3L))
  }

  test("soft-dedup weights: ppm = 1e6 div cluster size; per-cluster mass within truncation of 1.0") {
    val sfDocs = "/root/testdata/sf0.001"
    val out = graft.queries.DedupQueries("d19_soft_dedup_weights")(spark, sfDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // every row: weight_ppm == 1_000_000 / n_members exactly (integer div)
    assert(out.forall { case (_, _, n, w) => w == 1000000L / n })
    // per-cluster expected mass: n * (1e6 div n) in (1e6 - n, 1e6]
    out.groupBy(_._2).foreach { case (cl, rows) =>
      val n = rows.head._3
      val mass = rows.map(_._4).sum
      assert(rows.forall(_._3 == n), s"cluster $cl inconsistent sizes")
      assert(mass <= 1000000L && mass > 1000000L - n,
        s"cluster $cl mass $mass outside truncation band")
    }
  }

  test("t49 quality trade-off: hand goldens for buckets, DESC survivors, per-lang ppm") {
    val s = spark
    import s.implicits._
    // scores: d1 = .01 + 3/4*.5 = .385 -> bucket 3; d2 = .005 -> 0;
    // d3 = .005 + .5 = .505 -> 5; d4 (nl) = .005 + .25 = .255 -> 2
    val df = Seq(
      (1L, "the a of x", "en"), (2L, "x y", "en"),
      (3L, "the to", "en"), (4L, "a b", "nl"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft_t49").toString
    df.write.parquet(s"$dir/documents.parquet")
    val res = graft.queries.TextQueries("t49_quality_tradeoff")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(res === Seq(
      ("en", 0L, 1L, 2L, 3L, 8L, 1000000L, 1000000L),
      ("en", 3L, 1L, 4L, 2L, 6L, 666666L, 750000L),
      ("en", 5L, 1L, 2L, 1L, 2L, 333333L, 250000L),
      ("nl", 2L, 1L, 2L, 1L, 2L, 1000000L, 1000000L)), s"got $res")
  }

  test("lexical diversity: hand goldens for TTR and hapax on planted repetition") {
    val df = docsDf(Seq(
      1L -> "a a b",               // 3 words, 2 types, 1 hapax
      2L -> "x y z",               // all hapax
      3L -> "t t t t"))            // template spam: 1 type, 0 hapax
    val dir = java.nio.file.Files.createTempDirectory("graft_t25").toString
    df.write.parquet(s"$dir/documents.parquet")
    val res = graft.queries.TextQueries("t25_lexical_diversity")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(res === Map(
      1L -> ((3L, 2L, 1L, 666666L, 333333L)),
      2L -> ((3L, 3L, 3L, 1000000L, 1000000L)),
      3L -> ((4L, 1L, 0L, 250000L, 0L))), s"got $res")
  }

  test("t30 top-gram census: count election, ASC tie-break, char-coverage ppm") {
    val df = docsDf(Seq(
      1L -> "a b a b a b",   // grams: 'a b a' x2, 'b a b' x2 -> tie, min wins
      2L -> "p q r s",       // both grams x1 -> 'p q r' by tie-break
      3L -> "x y"))          // < 3 words: no row
    val dir = java.nio.file.Files.createTempDirectory("graft_t30").toString
    df.write.parquet(s"$dir/documents.parquet")
    val res = graft.queries.TextQueries("t30_repetition")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc 1: 11 chars, top 'a b a' (5 chars) x2 -> 1e6*2*5 div 11 = 909090
    // doc 2: 7 chars, top 'p q r' x1 -> 1e6*5 div 7 = 714285
    assert(res === Map(
      1L -> (("a b a", 2L, 909090L)),
      2L -> (("p q r", 1L, 714285L))), s"got $res")
  }

  test("d22 source overlap: cross-source clusters counted once, same-source clusters invisible") {
    val s = spark
    import s.implicits._
    val base = "one two three four five six seven eight nine ten"
    val df = Seq(
      (1L, base, "sA"),                // near-dup cluster {1, 2} spans sA + sB
      (2L, base + " eleven", "sB"),
      (3L, "alpha beta gamma delta epsilon zeta", "sA"), // cluster {3, 4}
      (4L, "alpha beta gamma delta epsilon zeta", "sA"), // ... within ONE source
      (5L, "unrelated totally different words entirely here", "sB"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft_d22").toString
    df.write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.DedupQueries("d22_source_overlap")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("sA", "sB") -> 1L), s"got $got")
  }

  test("v26 PCA power iteration: unit component, dominant axis, eigen residual, Pythagoras serve") {
    val s = spark
    import s.implicits._
    // variance overwhelmingly along dim 0 — the component must find it
    val vecs = (0 until 12).map(i => (i.toLong,
      Array(i.toFloat, (i % 3) * 0.05f, (i % 2) * 0.02f, 0.01f * i)))
    val dir = java.nio.file.Files.createTempDirectory("graft_v26").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val emb = graft.queries.Queries.embeddings(spark, dir)
    val (mu, pc, lambda) = Similarity.pcaPower(emb)
    val dim = 4
    assert(math.abs(math.sqrt(pc.map(p => p.toDouble * p).sum) - 1.0) < 1e-6,
      "component must be unit")
    assert(math.abs(pc(0)) > 0.99, s"dominant axis missed: ${pc.toSeq}")
    assert(lambda > 0.0)
    // independent eigen post-condition: C pc ~ rayleigh * pc with C the
    // centered scatter matrix folded flat from the fixture itself
    val centered = vecs.map { case (_, x) =>
      Array.tabulate(dim)(d => x(d).toDouble - mu(d)) }
    val cpc = Array.tabulate(dim) { d =>
      centered.map(c => c(d) * c.zip(pc.map(_.toDouble)).map {
        case (a, b) => a * b }.sum).sum }
    val rayleigh = cpc.zip(pc.map(_.toDouble)).map { case (a, b) => a * b }.sum
    val residNorm = math.sqrt(cpc.zip(pc.map(_.toDouble)).map {
      case (a, b) => val t = a - rayleigh * b; t * t }.sum)
    assert(residNorm / rayleigh < 0.01,
      s"not an eigenvector: resid $residNorm vs rayleigh $rayleigh")
    assert(math.abs(lambda - rayleigh) / rayleigh < 0.01,
      s"lambda $lambda vs rayleigh $rayleigh")
    // serve: per-row Pythagoras (unit component: score^2 + resid2 = |c|^2)
    val got = graft.queries.VectorQueries("v26_pca_power")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.size === 12)
    vecs.foreach { case (id, x) =>
      val c = Array.tabulate(dim)(d => x(d).toDouble - mu(d))
      val c2 = c.map(v => v * v).sum
      val (score, resid2, lamR) = got(id)
      assert(resid2 >= 0.0)
      assert(math.abs(score * score + resid2 - c2) < 1e-3,
        s"row $id: $score^2 + $resid2 != $c2")
      assert(math.abs(lamR - lambda) < 1e-6, s"lambda_r $lamR vs $lambda")
    }
    // determinism: a second train+serve run is identical
    val again = graft.queries.VectorQueries("v26_pca_power")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(again === got)
  }

  test("x45 coreset: flat recompute of admission, assignment, election; both gates live") {
    val s = spark
    import s.implicits._
    // 8 spread seeds (ids 0-7) + 24 members hanging off seeds 0/1 with
    // linearly growing off-axis offsets, so the PCA residual ordering is
    // strict and the tau = 0.99 admission gate REJECTS the far tail
    val seeds8 = (0 until 8).map(i => (i.toLong,
      Array(10.0f * i, 0.0f, 0.0f, 0.0f)))
    val members = (0 until 24).map { j =>
      val base = seeds8(j % 2)._2
      (100L + j, Array(base(0) + 0.1f * (j + 1), 0.12f * j, 0.05f * j, 0.0f))
    }
    val vecs = seeds8 ++ members
    val dir = java.nio.file.Files.createTempDirectory("graft_x45").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val emb = graft.queries.Queries.embeddings(spark, dir)
    val (mu, pc, _) = Similarity.pcaPower(emb)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dim = 4
    def serve(x: Array[Float]): (Double, Double) = {
      val c = Array.tabulate(dim)(d => x(d).toDouble - mu(d))
      var sc = 0.0
      var d = 0
      while (d < dim) { sc += c(d) * pc(d).toDouble; d += 1 }
      var r = 0.0
      d = 0
      while (d < dim) {
        val t = c(d) - sc * pc(d).toDouble; r += t * t; d += 1
      }
      (round6(sc), round6(r))
    }
    def assign(x: Array[Float]): Long =
      seeds8.map { case (cid, sv) =>
        var d2 = 0.0
        var d = 0
        while (d < dim) {
          val t = x(d).toDouble - sv(d).toDouble; d2 += t * t; d += 1
        }
        (round6(d2), cid)
      }.min._2
    // flat pipeline: admit on the rounded residual, elect per cluster
    val admitted = vecs.map { case (id, x) =>
      val (sc, r2) = serve(x); (assign(x), id, sc, r2)
    }.filter(_._4 <= 0.99)
    assert(admitted.nonEmpty && admitted.size < vecs.size,
      s"both admission branches must be live: ${admitted.size}/${vecs.size}")
    val want = admitted.groupBy(_._1).toSeq.flatMap { case (cl, rows) =>
      val n = rows.size.toLong
      rows.sortBy(r => (r._4, r._2)).take(4).zipWithIndex.map {
        case ((_, id, sc, r2), i) => (cl, i + 1L, id, sc, r2, n) }
    }.sortBy(r => (r._1, r._2))
    val got = graft.queries.ExtendedQueries("x45_coreset")(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(got === want, s"got\n${got.mkString("\n")}\nwant\n${want.mkString("\n")}")
    // the election cap must bind somewhere (a cluster with > 4 admitted)
    assert(admitted.groupBy(_._1).values.exists(_.size > 4),
      "fixture must exercise the rnk <= 4 cap")
  }

  test("v23 k-means assignment: nearest seed, round-6 tie to the lower cluster id, seeds self-assign") {
    val s = spark
    import s.implicits._
    val far = (2 to 7).map(i => (i.toLong, Array(100.0f + i, 100.0f)))
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(2.0f, 0.0f))) ++ far ++ Seq(
      (10L, Array(1.0f, 0.0f)),  // dist2 1.0 to both seed 0 and 1 -> tie -> 0
      (11L, Array(2.5f, 0.0f)))  // nearest seed 1 at 0.25
    val dir = java.nio.file.Files.createTempDirectory("graft_v23").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val got = graft.queries.VectorQueries("v23_kmeans_assign")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(10L) === ((0L, 1.0)), s"tie broke wrong: ${got(10L)}")
    assert(got(11L) === ((1L, 0.25)))
    (0 to 7).foreach(i => assert(got(i.toLong) === ((i.toLong, 0.0)),
      s"seed $i must self-assign: ${got(i.toLong)}"))
  }

  test("t32 phrase index: df election picks (df DESC, phrase ASC); match counts per doc") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "x y z a b", "en"),  // grams: 'x y z','y z a','z a b'
      (2L, "x y z c d", "en"),  // 'x y z' df=2; rest df=1
      (3L, "q r s t u", "fr"),  // 'q r s','r s t','s t u'
      (4L, "x y", "en"))        // < 3 words: no postings
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft_t32").toString
    df.write.parquet(s"$dir/documents.parquet")
    // query phrases: 'x y z' (df 2), then df-1 ties ASC: 'q r s', 'r s t'
    val got = graft.queries.TextQueries("t32_phrase_index")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> (("en", 1L)), 2L -> (("en", 1L)),
      3L -> (("fr", 2L))), s"got $got")
  }

  test("t33 word dropout: hash-seeded positions, rebuild order, determinism across reruns") {
    // md5('1:i') for i in 1..12 never starts with '0'; md5('2:3') does —
    // verified against a reference md5 implementation
    val df = docsDf(Seq(
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12",
      2L -> "a b c d e f"))
    val dir = java.nio.file.Files.createTempDirectory("graft_t33").toString
    df.write.parquet(s"$dir/documents.parquet")
    def run() = graft.queries.TextQueries("t33_word_dropout")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val got = run()
    assert(got(1L) === ((12L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12")))
    assert(got(2L) === ((6L, 1L, "a b d e f")), s"got ${got(2L)}")
    assert(run() === got, "augmentation must be deterministic across reruns")
  }

  test("t34 length buckets: power-of-two tiers exact at boundaries, pad waste integer-exact") {
    val df = docsDf(Seq(
      1L -> (1 to 15).map(i => s"w$i").mkString(" "),  // 15 -> cap 16
      2L -> (1 to 16).map(i => s"w$i").mkString(" "),  // 16 -> cap 16 (boundary)
      3L -> (1 to 17).map(i => s"w$i").mkString(" "),  // 17 -> cap 32 (boundary + 1)
      4L -> "tiny",                                     // 1 -> min tier 16
      5L -> (1 to 33).map(i => s"w$i").mkString(" "))) // 33 -> cap 64
    val dir = java.nio.file.Files.createTempDirectory("graft_t34").toString
    df.write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries("t34_length_buckets")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // cap 16: docs {1, 2, 4} words 15+16+1=32, pad 1+0+15=16, waste 16/48
    // cap 32: doc 3, pad 15; cap 64: doc 5, pad 31
    assert(got === Map(
      16L -> ((3L, 32L, 16L, 1000000L * 16 / 48)),
      32L -> ((1L, 17L, 15L, 1000000L * 15 / 32)),
      64L -> ((1L, 33L, 31L, 1000000L * 31 / 64))), s"got $got")
  }

  test("m08 frame coherence: static payload scores 0; stats match the stub-spec recompute") {
    val s = spark
    import s.implicits._
    def rec(id: Long, payload: Array[Byte]) =
      Multimodal.MediaRecord(id, payload, "video/x", 32L, 32L, 8L)
    val static = Array.fill(128)('a'.toByte)       // every frame identical
    val varied = (0 until 256).map(i => ((i * 37 + 11) % 96 + 32).toByte).toArray
    val media = Seq(rec(1, static), rec(2, varied)).toDS()
    val got = Multimodal.frameCoherence(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(1L) === ((8L, 0L, 0L, 0L)), s"static video must score 0: ${got(1L)}")
    // independent recompute from the executable codec spec
    def expected(payload: Array[Byte]): (Long, Long, Long, Long) = {
      val step = math.max(1, payload.length / 8)
      val frames = (0 until 8).map(_ * step).filter(_ < payload.length)
        .map(o => payload.slice(o, math.min(o + 64, payload.length)))
        .filter(_.nonEmpty)
      val hs = frames.map(PhashRef.phash)
      val hams = hs.sliding(2).map { case Seq(a, b) =>
        a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
      }.toSeq
      (frames.size.toLong, hams.min, hams.max, hams.sum)
    }
    assert(got(2L) === expected(varied), s"got ${got(2L)} expected ${expected(varied)}")
  }

  test("m07 aspect bucketing: exact ratios, nearest election, and the lcm tie rule") {
    val s = spark
    import s.implicits._
    def rec(id: Long, w: Long, h: Long) =
      Multimodal.MediaRecord(id, Array.emptyByteArray, "image/x", w, h, 1L)
    val media = Seq(
      rec(1, 32, 24),  // exact 4:3
      rec(2, 16, 16),  // exact 1:1
      rec(3, 33, 16),  // 2.06 -> 2:1 beats 16:9 (score 144 vs 656)
      rec(4, 7, 6),    // planted TIE 1:1 vs 4:3 (score 144 both) -> lower idx
      rec(5, 18, 32)). // 0.5625 = exact 9:16
      toDS()
    val got = Multimodal.aspectBucket(media).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got === Map(1L -> "4:3", 2L -> "1:1", 3L -> "2:1",
      4L -> "1:1", 5L -> "9:16"), s"got $got")
  }

  test("v22 margin mining: margins match an independent recompute; hub margins collapse") {
    val s = spark
    import s.implicits._
    // tight pair (0,1), hub 2 moderately close to everything, outlier 3
    // closer to the hub than to the pair — all pairwise cos >= 0.3 so
    // every node ranks all others and every pair is mutual at k=3
    val vecs = Map(
      0L -> Array(1.0f, 0.0f), 1L -> Array(0.995f, 0.1f),
      2L -> Array(0.8f, 0.6f), 3L -> Array(0.5f, 0.866f))
    val dir = java.nio.file.Files.createTempDirectory("graft_v22").toString
    vecs.toSeq.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = graft.queries.VectorQueries("v22_margin_mining")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap

    // independent scala recompute from first principles (same round-6
    // micro-unit cosines, same integer cross-multiplied margin)
    def cosI(a: Array[Float], b: Array[Float]): Long = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      math.round(BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }
    val ids = vecs.keys.toSeq.sorted
    val top = ids.map { i =>
      i -> ids.filter(_ != i).map(j => (j, cosI(vecs(i), vecs(j))))
        .filter(_._2 >= 300000L)
        .sortBy { case (j, c) => (-c, j) }.take(3)
    }.toMap
    val sums = top.map { case (i, ns) => i -> ns.map(_._2).sum }
    val cnts = top.map { case (i, ns) => i -> ns.size.toLong }
    val expected = (for {
      a <- ids; (b, c) <- top(a) if a < b && top(b).exists(_._1 == a)
    } yield (a, b) -> ((c,
      2L * c * cnts(a) * cnts(b) * 1000000L /
        (sums(a) * cnts(b) + sums(b) * cnts(a))))).toMap
    assert(got === expected, s"got $got expected $expected")
    // the hub gate: the tight pair's margin stands out above 1.0, and
    // every hub pair sits below the tight pair's margin
    val pairMargin = got((0L, 1L))._2
    assert(pairMargin > 1000000L, s"tight pair margin $pairMargin")
    Seq((0L, 2L), (1L, 2L), (2L, 3L)).foreach { e =>
      assert(got(e)._2 < pairMargin, s"hub edge $e margin ${got(e)._2}")
    }
  }

  test("chunkWindows: coverage, overlap, no redundant tail; short docs one chunk") {
    val df = docsDf(Seq(
      1L -> (1 to 10).map(i => s"w$i").mkString(" "), // 10 toks: 3 chunks at w=4,s=3
      2L -> "a b c",                                  // short: one chunk, whole doc
      3L -> (1 to 7).map(i => s"w$i").mkString(" "))) // exactly w + s: 2 chunks
    val got = TextOps.chunkWindows(df, w = 4, s = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      (1L, 0L) -> (("w1 w2 w3 w4", 4L)), (1L, 1L) -> (("w4 w5 w6 w7", 4L)),
      (1L, 2L) -> (("w7 w8 w9 w10", 4L)),
      (2L, 0L) -> (("a b c", 3L)),
      (3L, 0L) -> (("w1 w2 w3 w4", 4L)), (3L, 1L) -> (("w4 w5 w6 w7", 4L))),
      s"got $got")
    // reconstruction: dropping each chunk's leading (w - s) overlap past
    // chunk 0 rebuilds the doc exactly — the no-token-lost invariant
    val rebuilt = got.toSeq.filter(_._1._1 == 1L).sortBy(_._1._2).map {
      case ((_, 0L), (c, _)) => c
      case ((_, _), (c, _)) => c.split(" ").drop(1).mkString(" ")
    }.mkString(" ")
    assert(rebuilt === (1 to 10).map(i => s"w$i").mkString(" "))
  }

  test("leakFreeSplit: near-dup clusters never straddle the split; naive doc-hash split leaks") {
    // two planted near-dup pairs (one word changed in ~12) + singletons
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = docsDf(Seq(
      1L -> base, 2L -> base.replace("lazy", "sleepy"),
      10L -> "completely different text about training data pipelines at scale",
      11L -> "completely different text about training data pipelines at large scale",
      20L -> "a singleton document with no near duplicate in this corpus at all",
      21L -> "another lonely text sharing nothing with anything else here today"))
    val pairs = Dedup.ngramJaccardPairs(df, w = 5, minJ = 0.2)
    assert(pairs.count() >= 2, "fixture must plant at least the two near-dup pairs")
    val split = Dedup.leakFreeSplit(df, pairs, holdoutPct = 50)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // totality: every doc labeled
    assert(split.keySet === Set(1L, 2L, 10L, 11L, 20L, 21L))
    // the leak-free invariant: both members of each planted pair share
    // cluster AND split
    assert(split(1L) === split(2L), s"pair (1,2) split apart: $split")
    assert(split(10L) === split(11L), s"pair (10,11) split apart: $split")
    // singletons are their own cluster
    assert(split(20L)._1 === 20L && split(21L)._1 === 21L)
    // the naive per-doc rule (same md5 idiom, doc_id instead of cluster)
    // DOES leak on at least one planted pair at 50/50 — the failure mode
    // the operator exists to prevent
    def naive(id: Long): String = {
      val h = java.lang.Long.parseLong(org.apache.commons.codec.digest.DigestUtils
        .md5Hex("sp" + id.toString).substring(0, 8), 16)
      if (h % 100 >= 50) "train" else "holdout"
    }
    assert(naive(1L) != naive(2L) || naive(10L) != naive(11L),
      "fixture no longer demonstrates the naive-split leak — re-plant ids")
  }

  test("d27 sketch calibration: identical pair estimates exactly 1.0, signature parity") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d27").toString
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, base), (2L, base),                       // identical: est == exact == 1
      (3L, base + " extra tail words here"))        // near pair vs 1/2
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.DedupQueries("d27_sketch_calibration")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    // identical docs: identical shingle sets -> identical signatures
    assert(got((1L, 2L)) === ((1000000L, 16L, 0L)), s"got $got")
    // near pairs exist and their estimate stays a valid fraction of k
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    got.foreach { case (_, (_, m, _)) => assert(m >= 0L && m <= 16L) }
    // signature kernel parity: the UDF equals a flat scala recompute
    val sh = Dedup.docShingleHashes(
      Seq((9L, base)).toDF("doc_id", "text"), 5)
      .select("sh").collect()(0).getSeq[Long](0)
    val sig = Dedup.minhashSignature(sh, 16)
    val viaUdf = Dedup.withSignatures(
      Seq((9L, base)).toDF("doc_id", "text"), 5, 16)
      .select("sig").collect()(0).getSeq[Long](0)
    assert(sig.toSeq === viaUdf)
  }

  test("d26 threshold audit: exact bands, identical pair at 20, cumulative census") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d26").toString
    val w9 = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    Seq(
      (1L, w9),                            // A
      (2L, w9),                            // B = A -> inter 5 uni 5, band 20
      (3L, "w1 w2 w3 w4 w5 a b c d"))      // C shares one shingle -> 1/9, band 2
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.DedupQueries("d26_threshold_audit")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      20L -> ((1000000L, 1L, 1L)),
      2L -> ((100000L, 2L, 3L))), s"got $got")
  }

  test("t44 contamination score: exact ppm fractions and tier boundaries") {
    val s = spark
    import s.implicits._
    val bench = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "one two three four five"),              // full copy -> 1e6 ppm
      (2L, "one two three apple banana cherry"),    // 1 of 4 shingles -> 250000
      (3L, "red green blue yellow"),                // no overlap -> clean
      (4L, "ab"))                                   // < w words: no shingles, dropped
      .toDF("doc_id", "text")
    val got = Dedup.contaminationScore(train, bench, w = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got === Map(
      1L -> ((3L, 3L, 1000000L, "contaminated")),
      2L -> ((4L, 1L, 250000L, "partial")),
      3L -> ((2L, 0L, 0L, "clean"))), s"got $got")
  }

  test("m12 av-align: flat recompute of VAD runs + overlap election against library shots") {
    val s = spark
    import s.implicits._
    val half = "ab" * 32
    val flip = "ba" * 32
    val docs = Seq(
      (1L, half * 4 + flip * 4),   // 2 shots, 512 chars -> nw = 32
      (2L, "ab" * 128),            // 1 shot, 256 chars -> nw = 16
      (3L, "cd" * 96),             // 1 shot, nw = 12
      (4L, " " * 128))             // all silence -> no segments, no rows
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_m12").toString
    docs.write.parquet(s"$dir/documents.parquet")
    def h32(p: String, id: Long): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$p:$id").substring(0, 8), 16)
    // flat m09 plant + VAD runs (independent of the library expressions)
    def segments(id: Long, t: String): Seq[(Long, Long, Long)] = {
      val nw = t.length / 16
      val h = h32("sil", id)
      val lw = (1 + (h / 8) % 3).toInt
      val sw = (h % (nw - lw + 1)).toInt
      val wave = t.take(sw * 16) + " " * (lw * 16) +
        t.slice((sw + lw) * 16, nw * 16)
      val flags = (0 until nw).map { i =>
        wave.slice(i * 16, i * 16 + 16).map(c => math.max(c.toInt - 32, 0)).sum >= 400
      }
      val starts = (0 until nw).filter(i => flags(i) && (i == 0 || !flags(i - 1)))
      val ends = (0 until nw).filter(i => flags(i) && (i == nw - 1 || !flags(i + 1)))
      starts.zip(ends).zipWithIndex.map { case ((a, b), k) =>
        (k.toLong, a.toLong, b.toLong) }
    }
    // shots from the proven library kernel (m10's own spec covers it)
    val shots = Multimodal.cutFrames(Multimodal.fromDocuments(docs))
      .groupBy("doc_id", "shot")
      .agg(min("fi").as("sf"), max("fi").as("ef")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sortBy(_._1)).toMap
    val want = Seq(1L -> (half * 4 + flip * 4), 2L -> ("ab" * 128),
      3L -> ("cd" * 96), 4L -> (" " * 128)).flatMap { case (id, t) =>
      val nw = (t.length / 16).toLong
      val sh = shots.getOrElse(id, Seq.empty)
      val fn = sh.map { case (_, sf, ef) => ef - sf + 1 }.sum
      segments(id, t).flatMap { case (k, sw, ew) =>
        val hits = sh.map { case (shot, sf, ef) =>
          (shot, math.min((ew + 1) * fn, (ef + 1) * nw) -
            math.max(sw * fn, sf * nw))
        }.filter(_._2 > 0)
        if (hits.isEmpty) None
        else {
          val best = hits.map { case (shot, ov) => (-ov, shot) }.min
          Some((id, k, sw, ew, best._2, -best._1, hits.size.toLong))
        }
      }
    }
    val got = graft.queries.MediaQueries("m12_av_align")(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got === want, s"got\n${got.mkString("\n")}\nwant\n${want.mkString("\n")}")
    assert(want.nonEmpty && !want.exists(_._1 == 4L),
      "silent doc must produce no rows; others must align")
    assert(want.exists(_._7 > 1L),
      "at least one segment must span a cut (n_shots_hit > 1)")
  }

  test("m10 shot segments: hard cut splits, static clip is one shot, single frame") {
    val s = spark
    import s.implicits._
    // doc 1: frames 0-3 are 'abab...' (hash bits at odd positions),
    // frames 4-7 are 'baba...' (bits at even positions) -> one 64-bit
    // jump at fi=4: 2 shots. doc 2: identical frames -> 1 shot.
    // doc 3: one char -> single frame, one shot, no pair rows.
    val half = "ab" * 32
    val flip = "ba" * 32
    val docs = Seq(
      (1L, half * 4 + flip * 4),
      (2L, "ab" * 256),
      (3L, "x")).toDF("doc_id", "text")
    val got = Multimodal.shotSegments(Multimodal.fromDocuments(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      1L -> ((8L, 2L, 4L, 4L)),
      2L -> ((8L, 1L, 8L, -1L)),
      3L -> ((1L, 1L, 1L, -1L))), s"got $got")
  }

  test("t45 pmi collocations: floor kills the rare pair, pmi matches the hand ratio") {
    // doc 1: "a b" x12 -> 24 tokens, bigrams (a,b) x12, (b,a) x11;
    // doc 2: "c d" -> one bigram, below the floor of 10.
    // corpus: n_uni = 26, n_bi = 24, c(a) = c(b) = 12
    val df = docsDf(Seq(1L -> Seq.fill(12)("a b").mkString(" "), 2L -> "c d"))
    val dir = java.nio.file.Files.createTempDirectory("graft_t45").toString
    df.write.parquet(s"$dir/documents.parquet")
    def pmi(cxy: Long): Double =
      BigDecimal(math.log(cxy.toDouble * 26 * 26 / (24.0 * 12 * 12)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.queries.TextQueries("t45_pmi_collocations")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got === Map(
      ("a", "b") -> ((12L, 12L, 12L, pmi(12))),
      ("b", "a") -> ((11L, 12L, 12L, pmi(11)))), s"got $got")
  }

  test("d28 cdc stability: one-word edit perturbs at most 1 orig / 2 edit chunks") {
    // 30 pseudo-random docs (10-40 words, deterministic vocab) — the
    // CDC locality bound must hold for EVERY doc, whatever the
    // boundary layout around its middle word
    val docs = (1L to 30L).map { d =>
      val n = 10 + (d * 7 % 31).toInt
      d -> (0 until n).map(i =>
        org.apache.commons.codec.digest.DigestUtils
          .md5Hex(s"w:${(d * 31 + i * 17) % 97}").substring(0, 6)).mkString(" ")
    }
    val df = docsDf(docs)
    val dir = java.nio.file.Files.createTempDirectory("graft_d28").toString
    df.write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.DedupQueries("d28_cdc_edit_stability")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length === 30, s"got ${got.length}")
    got.foreach { case (d, nO, nE, nC, chO, chE) =>
      assert(chO >= 0 && chO <= 1, s"doc $d: ch_orig $chO breaks the CDC bound")
      assert(chE >= 1 && chE <= 2, s"doc $d: ch_edit $chE breaks the CDC bound")
      assert(nO - chO === nC && nE - chE === nC, s"doc $d: census identity")
    }
    assert(got.exists(_._6 === 2), "the boundary-sentinel split class should be live")
  }

  test("t46 jsd: disjoint vocabularies hit exactly ln 2; overlap matches the hand sum") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a a b", "X"), (2L, "a b b", "Y"), (3L, "c", "Z"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft_t46").toString
    df.write.parquet(s"$dir/documents.parquet")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // X vs Y over {a, b}: both directions mirror -> 2 * [(1/3)ln(4/3) +
    // (1/6)ln(2/3)]; X/Y vs Z are vocabulary-disjoint -> exactly ln 2
    def term(c1: Long, n1: Long, c2: Long, n2: Long): Double = {
      val p = c1.toDouble / n1; val q = c2.toDouble / n2
      (if (c1 > 0) 0.5 * p * math.log(2.0 * p / (p + q)) else 0.0) +
        (if (c2 > 0) 0.5 * q * math.log(2.0 * q / (p + q)) else 0.0)
    }
    val xy = r6(term(2, 3, 1, 3) + term(1, 3, 2, 3))
    val ln2 = r6(math.log(2.0))
    val got = graft.queries.TextQueries("t46_js_divergence")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      ("X", "Y") -> ((2L, xy)),
      ("X", "Z") -> ((3L, ln2)),
      ("Y", "Z") -> ((3L, ln2))), s"got $got")
  }

  test("m11 constellation: planted clip at offset 3, identical pair at 0, unrelated absent") {
    // deterministic pseudo-random waves, 32 frames (512 chars) each
    def wave(seed: String): String = (0 until 32).map { i =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$seed:$i").substring(0, 16)
    }.mkString
    val shared = wave("C")
    // doc 5 (% 5 == 0) -> master track 10 AND clip track 11 (wave minus
    // the first 3 frames); docs 1,2 -> identical masters (tracks 2, 4);
    // doc 3 -> unrelated master (track 6)
    val df = docsDf(Seq(5L -> wave("A"), 1L -> shared, 2L -> shared,
      3L -> wave("Z")))
    val dir = java.nio.file.Files.createTempDirectory("graft_m11").toString
    df.write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.MediaQueries("m11_constellation")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet === Set((2L, 4L), (10L, 11L)), s"got $got")
    val (idN, idOffs, idBest, idVotes) = got((2L, 4L))
    assert(idOffs === 1L && idBest === 0L && idVotes === idN && idN >= 4L,
      s"identical pair: $got")
    val (clN, clOffs, clBest, clVotes) = got((10L, 11L))
    assert(clOffs === 1L && clBest === 3L && clVotes === clN && clN >= 4L,
      s"clip pair: $got")
  }

  test("m09 vad census: run splits, edge trims, silent clip, sub-window drop") {
    val s = spark
    import s.implicits._
    val sp16 = " " * 16
    val sig16 = "abcdefghijklmnop" // energy ~ 16 * ~70 >> 400
    val waves = Seq(
      (1L, sig16 + sp16 + sig16),          // split: 2 segments, no trims
      (2L, sp16 + sig16 + sig16),          // leading silence: lead_trim 1
      (3L, sig16 + sp16 + sp16),           // trailing: tail_trim 2
      (4L, sp16 + sp16),                   // silent clip: all zeros, trims = nw
      (5L, "short"))                       // < one window: dropped
    val got = Multimodal.vadCensus(waves.toDF("id", "wave"), "wave", "id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got === Map(
      1L -> ((3L, 2L, 2L, 0L, 0L)),
      2L -> ((3L, 2L, 1L, 1L, 0L)),
      3L -> ((3L, 1L, 1L, 0L, 2L)),
      4L -> ((2L, 0L, 0L, 2L, 2L))), s"got $got")
  }

  test("v25 lloyd step: hand-computed movement, counts, empty-cluster absence") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_v25").toString
    // seeds 0..7 at x = 0, 10, ..., 70; one extra point at (2, 0) joins
    // cluster 0 -> mean (1, 0), movement 1.0, norm 1.0; the rest keep
    // their seed as sole member (movement 0)
    val rows = (0L to 7L).map(i => (i, Array((i * 10).toFloat, 0f))) :+
      (100L, Array(2f, 0f))
    rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val got = graft.queries.VectorQueries("v25_lloyd_step")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(0L) === ((2L, 1.0, 1.0)), s"got $got")
    (1L to 7L).foreach { c =>
      assert(got(c) === ((1L, 0.0, (c * 10).toDouble)), s"cluster $c: $got")
    }
    assert(got.size === 8)
  }

  test("t43 samples: union-stability, partition invariance, short strata") {
    val s = spark
    import s.implicits._
    val all = (1L to 200L).map(i => (s"src${i % 3}", i)) ++
      Seq(("tiny", 900L), ("tiny", 901L)) // stratum below k
    val df = all.toDF("source", "doc_id")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select("source", "rnk", "doc_id", "pri").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val direct = canon(Samples.bottomK(df, "source", "doc_id", 8))
    // mergeable: any 3-way split folds back to the direct sample
    val parts = Seq(
      df.filter(col("doc_id") % 7 < 2), df.filter(col("doc_id") % 7 === 2),
      df.filter(col("doc_id") % 7 > 2))
    val merged = parts.map(Samples.bottomK(_, "source", "doc_id", 8))
      .reduce(Samples.merge(_, _, "source", "doc_id", 8))
    assert(canon(merged) === direct, "merge of split samples != direct sample")
    // consistent: repartitioning cannot change the sample
    assert(canon(Samples.bottomK(df.repartition(13), "source", "doc_id", 8))
      === direct)
    // short stratum returns all its rows, ranked
    assert(direct.count(_._1 == "tiny") === 2)
    // merging a sample with itself is a no-op (idempotent)
    val s1 = Samples.bottomK(df, "source", "doc_id", 8)
    assert(canon(Samples.merge(s1, s1, "source", "doc_id", 8)) === direct)
  }

  test("t47: code-switch census — hand windows, switch count, majority election") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t47").toString
    val en = Seq.fill(2)("the of and to a").mkString(" ")         // 10 en words
    val es = Seq.fill(2)("el que los una es").mkString(" ")       // 10 es words
    val fr = Seq.fill(2)("les des une est est").mkString(" ")     // 10 fr words
    Seq(
      // doc 1: [en, es, en] -> 3 windows, 2 langs, 2 switches, major en
      (1L, s"$en $es $en", "en", "src1", 92L),
      // doc 2: [en] -> single window, pure
      (2L, en, "en", "src1", 29L),
      // doc 3: [fr, fr, fr-tail(5 words)] -> pure fr, zero switches
      (3L, s"$fr $fr les des une est est", "fr", "src2", 83L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries("t47_codeswitch_census")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getBoolean(5)))).toMap
    assert(got === Map(
      1L -> ((3L, 2L, 2L, "en", true)),
      2L -> ((1L, 1L, 0L, "en", false)),
      3L -> ((3L, 1L, 0L, "fr", false))), s"got $got")
  }

  test("d29: negative sampling — no self, no near-dup contamination, <= 4 distinct, deterministic") {
    val s = spark
    import s.implicits._
    val got = graft.queries.DedupQueries("d29_negative_sampling")(spark, sf)
    val rows = got.as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty, "no negatives sampled at sf0.001")
    // the false-negative guard IS the op: no sampled negative may be a
    // direct near-dup pair of its anchor, and never the anchor itself
    val pairs = Dedup.ngramJaccardPairs(
        spark.read.parquet(s"$sf/documents.parquet"), w = 5, minJ = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    rows.foreach { case (anchor, _, neg, _) =>
      assert(anchor != neg, s"self-negative for $anchor")
      assert(!pairs.contains((anchor, neg)),
        s"near-dup false negative: anchor $anchor got $neg")
    }
    // per-anchor contract: <= 4, distinct negatives, rnk dense from 1
    rows.groupBy(_._1).foreach { case (anchor, rs) =>
      assert(rs.length <= 4, s"anchor $anchor has ${rs.length} negatives")
      assert(rs.map(_._3).distinct.length === rs.length,
        s"anchor $anchor has duplicate negatives")
      assert(rs.map(_._2).sorted.toSeq === (1L to rs.length).toSeq,
        s"anchor $anchor rnk not dense")
    }
    // deterministic: a second evaluation returns the identical set
    val again = graft.queries.DedupQueries("d29_negative_sampling")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(again.toSet === rows.toSet, "re-evaluation changed the sample")
    // distributed contract: no cartesian product in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "d29 plans a cartesian")
  }
}
