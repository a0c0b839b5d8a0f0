package graft.relational

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew-salting and bucketing: correctness vs the plain equivalents, and
  * the plan-level guarantees (bucketed join shuffle-free; salted join
  * scatters the hot key). */
class ScaleOpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("scale-ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("saltedJoin returns exactly the plain join result on a skewed key") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_returnflag", "l_quantity") // l_returnflag: 3 hot keys
    val dim = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag")).distinct()
      .withColumn("flag_name", concat(lit("flag_"), col("l_returnflag")))
    val plain = li.join(dim, Seq("l_returnflag"), "left")
      .select("l_orderkey", "l_quantity", "flag_name")
      .collect().map(_.toString).sorted
    val salted = Skew.saltedJoin(li, dim, "l_returnflag", salt = 7)
      .select("l_orderkey", "l_quantity", "flag_name")
      .collect().map(_.toString).sorted
    assert(salted === plain)
    // the salted exchange hashes on (salt, key), so one hot key spreads
    // over up to 7 partitions — visible as __salt in the join condition
    val p = Skew.saltedJoin(li, dim, "l_returnflag", salt = 7)
      .queryExecution.executedPlan.toString
    assert(p.contains("__salt"), p)
  }

  test("saltedAgg equals plain aggregation on a hot key") {
    val ev = spark.read.parquet(s"$sf/lineitem.parquet")
    val plain = ev.groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("qty"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Skew.saltedAgg(ev, "l_returnflag", salt = 8,
      partials = Map("pc" -> count(lit(1)), "ps" -> sum(col("l_quantity"))),
      finals = Map("cnt" -> sum(col("pc")), "qty" -> round(sum(col("ps")), 2)))
      .collect().map(r => (r.getString(0), r.getAs[Long]("cnt"))).toMap
    assert(salted === plain)
  }

  test("join of two tables bucketed on the key needs no shuffle exchange") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    Bucketing.writeBucketed(orders, "orders_b", "o_orderkey", buckets = 4)
    Bucketing.writeBucketed(
      li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
      "o_orderkey", buckets = 4)

    // at fixture scale the planner prefers a broadcast join (which ignores
    // bucketing); disable it so the plan is the SortMergeJoin a real fact-
    // fact join would use - bucketed scans must then need no shuffle.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.read(spark, "lineitem_b")
        .join(Bucketing.read(spark, "orders_b"), "o_orderkey")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), s"bucketed scan not used:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(joined.count() === li.count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("writerTasksPerBucket widens the write but keeps content and file count bounded") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    val (buckets, k) = (4, 3)
    Bucketing.writeBucketed(li, "lineitem_wide_b", "o_orderkey",
      buckets = buckets, writerTasksPerBucket = k)
    val back = Bucketing.read(spark, "lineitem_wide_b")
    assert(back.count() === li.count())
    // still a genuinely bucketed table: shuffle-free when joined on the key
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(li.select("o_orderkey").distinct(), "orders_keys_b",
        "o_orderkey", buckets = buckets)
      val j = back.join(Bucketing.read(spark, "orders_keys_b"), "o_orderkey")
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true") && !p.contains("Exchange"),
        s"wide-written bucketed table lost its bucketing:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // file count bounded by ~k per bucket, NOT buckets*tasks
    val loc = spark.sql("DESCRIBE TABLE EXTENDED lineitem_wide_b")
      .filter(col("col_name") === "Location").select("data_type").head().getString(0)
    val files = new java.io.File(new java.net.URI(loc)).listFiles()
      .count(_.getName.startsWith("part-"))
    assert(files <= buckets * k + buckets,
      s"file explosion: $files files for $buckets buckets x $k tasks")
  }

  test("sign-bit ANN index: identical results to the inline path, corpus side never shuffles") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    graft.llm.Similarity.buildSignIndex(emb, "emb_sign_idx", buckets = 4)

    val inline = graft.llm.Similarity.hammingRerank(emb, queries, k = 5, shortlist = 20)
      .collect().map(_.toString).sorted
    // force shuffle joins so the bucket layout (not a broadcast) is what
    // makes the corpus side exchange-free; the explicit broadcast() hints
    // on the bounded query/candidate sides still apply
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val indexed = graft.llm.Similarity.hammingRerankIndexed(
        spark, "emb_sign_idx", queries, k = 5, shortlist = 20)
      assert(indexed.collect().map(_.toString).sorted === inline,
        "indexed path must reproduce the inline two-stage result exactly")
      // AQE repeats the tree under '== Initial Plan ==': audit the final
      // section only (the x08 PlanSpec discipline)
      val p = indexed.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // the rerank's embedding re-attach reads the bucket layout directly
      assert(p.contains("Bucketed: true"), s"index scan not bucketed:\n$p")
      // exactly 3 exchanges, all on the bounded side: the two heap
      // aggregations (partial -> final on query_id) and the id-only
      // candidate set moving to the buckets. A 4th would mean the corpus
      // shuffled for the join.
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n <= 3, s"corpus side shuffled ($n exchanges):\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("sign index append: incremental growth == full rebuild, write is batch-sized") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val b1 = emb.filter(col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 8)
    graft.llm.Similarity.buildSignIndex(b1, "sign_incr_idx", buckets = 4)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier("sign_incr_idx")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(ident).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      val it = fs.listFiles(loc, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString
      }
      b.result()
    }
    val filesBefore = dataFiles()

    graft.llm.Similarity.appendToSignIndex(b2, "sign_incr_idx")

    val filesAfter = dataFiles()
    assert(filesBefore.subsetOf(filesAfter),
      "append must not rewrite or drop existing index files")
    val newFiles = (filesAfter -- filesBefore).toSeq
    assert(newFiles.nonEmpty)
    assert(spark.read.parquet(newFiles: _*).count() === b2.count(),
      "append must write exactly the batch's rows")

    // serving parity: the grown index answers exactly like a rebuild
    graft.llm.Similarity.buildSignIndex(emb, "sign_full_idx", buckets = 4)
    val viaIncr = graft.llm.Similarity.hammingRerankIndexed(
      spark, "sign_incr_idx", queries, k = 5, shortlist = 20)
      .collect().map(_.toString).sorted
    val viaFull = graft.llm.Similarity.hammingRerankIndexed(
      spark, "sign_full_idx", queries, k = 5, shortlist = 20)
      .collect().map(_.toString).sorted
    assert(viaIncr.nonEmpty && viaIncr === viaFull)
  }

  test("sign index delete: tombstones == never-indexed; vacuum folds physically") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val deleted = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
    val survivors = emb.filter(col("vec_id") % 7 =!= 0)
    graft.llm.Similarity.buildSignIndex(emb, "sign_del_idx", buckets = 4)
    def idxFiles(table: String): Set[String] = {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(ident).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(loc, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString
      }
      b.result()
    }
    val corpusFilesBefore = idxFiles("sign_del_idx")

    graft.llm.Similarity.deleteFromSignIndex(spark, "sign_del_idx", deleted)

    // the delete wrote a tombstone batch, never touched the corpus layout
    assert(idxFiles("sign_del_idx") === corpusFilesBefore,
      "delete must not read or rewrite the stored corpus")
    assert(spark.catalog.tableExists("sign_del_idx_tombstones"))

    // serve parity: tombstoned index == an index the deleted rows never
    // entered (deleted ids may still arrive as QUERIES — external workload)
    graft.llm.Similarity.buildSignIndex(survivors, "sign_del_ref_idx", buckets = 4)
    val viaRef = graft.llm.Similarity.hammingRerankIndexed(
      spark, "sign_del_ref_idx", queries, k = 5, shortlist = 20)
      .collect().map(_.toString).sorted
    val viaTomb = graft.llm.Similarity.hammingRerankIndexed(
      spark, "sign_del_idx", queries, k = 5, shortlist = 20)
    assert(viaTomb.collect().map(_.toString).sorted === viaRef)
    // and no tombstoned id survives as a neighbor anywhere
    val delIds = deleted.collect().map(_.getLong(0)).toSet
    assert(viaTomb.collect().forall(r => !delIds(r.getAs[Long]("neighbor_id"))))

    // vacuum: survivors-only physical layout under the same bucket spec,
    // tombstone table dropped, serving identical before/after the swap
    graft.llm.Similarity.vacuumSignIndex(spark, "sign_del_idx")
    assert(!spark.catalog.tableExists("sign_del_idx_tombstones"))
    assert(spark.table("sign_del_idx").count() === survivors.count())
    val spec = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("sign_del_idx")).bucketSpec
    assert(spec.exists(s => s.numBuckets == 4 && s.bucketColumnNames == Seq("vec_id")),
      s"vacuum must preserve the bucket spec, got $spec")
    val afterVacuum = graft.llm.Similarity.hammingRerankIndexed(
      spark, "sign_del_idx", queries, k = 5, shortlist = 20)
      .collect().map(_.toString).sorted
    assert(afterVacuum === viaRef)
    // second vacuum with no tombstones: no-op, not an error
    graft.llm.Similarity.vacuumSignIndex(spark, "sign_del_idx")
  }

  test("time travel: pinned reads survive later writes; rollback re-points without rewriting") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tt_t").toString + "/t"
    val v1 = Versioned.write(Seq((1L, "a")).toDF("id", "v"), dir)
    val v2 = Versioned.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    assert(v1 === 1L && v2 === 2L)
    assert(Versioned.latestVersion(spark, dir) === Some(2L))
    // pinned v1 unchanged after v2; latest serves v2
    assert(Versioned.read(spark, dir, Some(1L)).count() === 1L)
    assert(Versioned.read(spark, dir).count() === 2L)
    // rollback: pointer-only — v2's files remain, latest serves v1
    Versioned.rollback(spark, dir, 1L)
    assert(Versioned.latestVersion(spark, dir) === Some(1L))
    assert(Versioned.read(spark, dir).count() === 1L)
    assert(Versioned.read(spark, dir, Some(2L)).count() === 2L,
      "rollback must not destroy the rolled-back version")
    // the next write continues past the HIGH-WATER mark, not the rolled-
    // back pointer — it must never collide with the retained v2 snapshot
    val v3 = Versioned.write(Seq((9L, "z")).toDF("id", "v"), dir)
    assert(v3 === 3L, s"post-rollback write must mint v3, got $v3")
    assert(Versioned.read(spark, dir).count() === 1L,
      "a fresh commit flips latest to the new version")
    // rollback to a version that never existed refuses loudly
    intercept[IllegalArgumentException] {
      Versioned.rollback(spark, dir, 99L)
    }
  }

  test("change feed: insert/delete/update classified, unchanged suppressed, payloads carried") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_cdf_spec").toString + "/t"
    Versioned.write(Seq(
      ("a", 1L, "x"), ("b", 2L, "y"), ("c", 3L, "z")).toDF("k", "n", "tag"), dir)
    Versioned.write(Seq(
      ("a", 1L, "x"), // unchanged -> suppressed
      ("b", 9L, "y"), // update (payload fingerprint differs)
      ("d", 4L, "w")).toDF("k", "n", "tag"), dir) // insert; c deleted
    val got = Versioned.changes(spark, dir, 1L, 2L, Seq("k")).collect()
      .map(r => r.getString(0) -> ((r.getString(1),
        Option(r.getStruct(2)).map(_.getLong(0)).getOrElse(-1L),
        Option(r.getStruct(3)).map(_.getLong(0)).getOrElse(-1L)))).toMap
    assert(got === Map(
      "b" -> (("update", 2L, 9L)),
      "c" -> (("delete", 3L, -1L)),
      "d" -> (("insert", -1L, 4L))))
  }

  test("CDC merge: update/insert/delete/ghost-delete branches; bad __op fails in-plan") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_spec").toString + "/t"
    Versioned.write(Seq(
      ("a", 1L, "x"), ("b", 2L, "y"), ("c", 3L, "z")).toDF("k", "n", "tag"), dir)
    val batch = Seq(
      ("b", 9L, "y2", "upsert"),  // matched upsert -> update
      ("d", 4L, "w", "upsert"),   // unmatched upsert -> insert
      ("c", 0L, "", "delete"),    // matched delete -> gone
      ("z", 0L, "", "delete")     // unmatched delete -> no-op (redelivered tombstone)
    ).toDF("k", "n", "tag", "__op")
    val (v, merged) = Merge.applyChanges(spark, dir, batch, Seq("k"))
    assert(v === 2L)
    val got = merged.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got === Map(
      "a" -> ((1L, "x")),   // untouched carry
      "b" -> ((9L, "y2")),  // updated payload wins
      "d" -> ((4L, "w"))))  // inserted
    // the committed snapshot IS the merge result (self-scan parity)
    assert(Versioned.read(spark, dir, Some(2L)).count() === 3L)
    // v1 pinned read still serves the pre-merge table
    assert(Versioned.read(spark, dir, Some(1L)).count() === 3L)
    // malformed op fails the job in-plan, nothing half-applies
    val bad = Seq(("a", 5L, "q", "replace")).toDF("k", "n", "tag", "__op")
    intercept[Exception] {
      Merge.merge(Versioned.read(spark, dir), bad, Seq("k")).collect()
    }
    assert(Versioned.latestVersion(spark, dir) === Some(2L))
  }

  test("record linkage: multi-pass recall, hub-guard drops oversized blocks, no dup candidates") {
    val s = spark
    import s.implicits._
    // left: (id, blockA, blockB); right likewise. Pass A co-blocks 1<->10,
    // pass B co-blocks 2<->20 (pass A key differs) — union recovers both.
    val left = Seq(
      (1L, "a1", "b1"), (2L, "a2", "b2"), (3L, "hub", "b3"),
      (4L, "hub", "b4"), (5L, "hub", "b5")).toDF("id", "ka", "kb")
    val right = Seq(
      (10L, "a1", "bx"), (20L, "ax", "b2"), (30L, "hub", "by"),
      (40L, "a1", "b2")).toDF("rid", "ka", "kb")
    val got = RecordLinkage.candidates(left, "id", right, "rid",
      passes = Seq((org.apache.spark.sql.functions.col("ka"),
        org.apache.spark.sql.functions.col("ka")),
        (org.apache.spark.sql.functions.col("kb"),
          org.apache.spark.sql.functions.col("kb"))),
      maxBlockSize = 2)
      .as[(Long, Long)].collect().toSet
    // "hub" has 3 left members > cap=2 -> the whole block drops (3,4,5 x 30
    // never pair); 40 co-blocks with 1 via pass A AND with 2 via pass B;
    // (1,10) pass A only, (2,20) pass B only.
    assert(got === Set((1L, 10L), (1L, 40L), (2L, 20L), (2L, 40L)))
    // distinct contract: a pair co-blocked by both passes appears once
    val dup = RecordLinkage.candidates(left, "id", right, "rid",
      passes = Seq((org.apache.spark.sql.functions.col("ka"),
        org.apache.spark.sql.functions.col("ka")),
        (org.apache.spark.sql.functions.col("ka"),
          org.apache.spark.sql.functions.col("ka"))),
      maxBlockSize = 10).count()
    assert(dup === RecordLinkage.candidates(left, "id", right, "rid",
      passes = Seq((org.apache.spark.sql.functions.col("ka"),
        org.apache.spark.sql.functions.col("ka"))),
      maxBlockSize = 10).count())
  }

  test("survivorship: null versions never out-elect non-null candidates") {
    val s = spark
    import s.implicits._
    // entity 1: name versions [Alice, null] — longest must be Alice, not
    // the struct(null,null) a bare min(struct(-length, c)) would elect;
    // seg versions [gold, null, null] — majority over NON-NULL must be
    // gold, not null (2 votes). entity 2: all-null name -> NULL golden,
    // all-null seg -> NULL golden (left join keeps the entity).
    val recs = Seq(
      (1L, 10L, "Alice", "gold"),
      (1L, 20L, null.asInstanceOf[String], null.asInstanceOf[String]),
      (1L, 30L, "Al", null.asInstanceOf[String]),
      (2L, 10L, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("eid", "ts", "name", "seg")
    val got = RecordLinkage.survivorship(recs, "eid", "ts",
        longestCols = Seq("name"), lastNonNullCols = Seq("name"),
        majorityCols = Seq("seg"))
      .select("eid", "n_versions", "ts_latest", "seg_golden")
      .as[(Long, Long, Long, Option[String])].collect().toSet
    val longestOnly = RecordLinkage.survivorship(recs, "eid", "ts",
        longestCols = Seq("name"), lastNonNullCols = Nil,
        majorityCols = Nil)
      .select("eid", "name_golden").as[(Long, Option[String])]
      .collect().toMap
    assert(longestOnly === Map(1L -> Some("Alice"), 2L -> None))
    val freshOnly = RecordLinkage.survivorship(recs, "eid", "ts",
        longestCols = Nil, lastNonNullCols = Seq("name"),
        majorityCols = Nil)
      .select("eid", "name_golden").as[(Long, Option[String])]
      .collect().toMap
    assert(freshOnly === Map(1L -> Some("Al"), 2L -> None))
    assert(got === Set((1L, 3L, 30L, Some("gold")), (2L, 1L, 10L, None)))
  }

  test("snapshot expiry: retention horizon + the pointer target is never deleted") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_exp_t").toString + "/t"
    (1 to 4).foreach(i =>
      Versioned.write(Seq((i.toLong, "x")).toDF("id", "v"), dir))
    // keep 2 -> v1, v2 go; v3, v4 stay; latest (v4) untouched
    assert(Versioned.expire(spark, dir, keep = 2) === Seq(1L, 2L))
    assert(Versioned.versions(spark, dir) === Seq(3L, 4L))
    assert(Versioned.read(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(4L))
    // a second expiry at the same horizon is a no-op (idempotent)
    assert(Versioned.expire(spark, dir, keep = 2) === Seq.empty)
    // after a rollback BELOW the horizon, the pointer target survives
    // expiry even though the horizon alone would delete it
    Versioned.rollback(spark, dir, 3L)
    Versioned.write(Seq((9L, "z")).toDF("id", "v"), dir) // v5
    Versioned.write(Seq((10L, "z")).toDF("id", "v"), dir) // v6
    Versioned.rollback(spark, dir, 3L)
    assert(Versioned.expire(spark, dir, keep = 1) === Seq(4L, 5L),
      "expiry must spare the rolled-back pointer target")
    assert(Versioned.versions(spark, dir) === Seq(3L, 6L))
    assert(Versioned.read(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(3L),
      "the table keeps serving the rolled-back version after expiry")
    // keep = 0 refuses: an empty table is not a retention policy
    intercept[IllegalArgumentException] { Versioned.expire(spark, dir, 0) }
  }

  test("incremental agg: folds == one-shot recompute; untouched slots keep their files") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm_t").toString + "/agg"
    // keys chosen so delta 2 touches ONLY key 'b''s hash slot
    val d1 = Seq(("a", 1L), ("a", 2L), ("b", 10L), ("c", 5L)).toDF("key", "value")
    val d2 = Seq(("b", 30L)).toDF("key", "value")
    IncrementalAgg.applyDelta(d1, dir, nParts = 8)
    def files(): Map[String, Long] = {
      val base = new java.io.File(dir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(base).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    IncrementalAgg.applyDelta(d2, dir, nParts = 8)
    val after = files()
    // the touched slot is rewritten (fresh part-file names); every
    // surviving path keeps its mtime — dynamic overwrite never touched it
    assert(after.keySet != before.keySet, "second fold must rewrite the touched slot")
    val common = before.keySet & after.keySet
    assert(common.nonEmpty && common.forall(p => before(p) == after(p)),
      s"untouched slots must keep their files byte-for-byte (mtimes changed)")
    // converged state == one-shot recompute
    val got = IncrementalAgg.read(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map("a" -> ((2L, 3L)), "b" -> ((2L, 40L)), "c" -> ((1L, 5L))),
      s"got $got")
  }

  test("WAP: failed audit leaves dest byte-identical and cleans staging; pass swaps atomically") {
    val s = spark
    import s.implicits._
    val dest = java.nio.file.Files.createTempDirectory("graft_wap_t").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val ok = Publish.writeAuditPublish(v1, dest, Seq(
      "nonempty" -> (count(lit(1)) > 0),
      "no_null_id" -> (count(when(col("id").isNull, 1)) === 0)))
    assert(ok.published && ok.audits.forall(_._2))
    val published = spark.read.parquet(dest).collect().map(_.toString).sorted
    assert(published.length === 2)

    // v2 fails an audit (planted null id): dest must stay v1 exactly,
    // staging and prev must not linger
    val v2 = Seq((Some(3L), "c"), (Option.empty[Long], "d")).toDF("id", "v")
    val bad = Publish.writeAuditPublish(v2, dest, Seq(
      "nonempty" -> (count(lit(1)) > 0),
      "no_null_id" -> (count(when(col("id").isNull, 1)) === 0)))
    assert(!bad.published)
    assert(bad.audits.toMap === Map("nonempty" -> true, "no_null_id" -> false))
    assert(spark.read.parquet(dest).collect().map(_.toString).sorted === published,
      "failed audit must leave the published version untouched")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dest + "__staging")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dest + "__prev")))

    // a passing v3 replaces v1
    val v3 = Seq((7L, "z")).toDF("id", "v")
    val ok3 = Publish.writeAuditPublish(v3, dest, Seq(
      "exact_count" -> (count(lit(1)) === 1)))
    assert(ok3.published)
    assert(spark.read.parquet(dest).as[(Long, String)].collect().toSeq === Seq((7L, "z")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dest + "__prev")))
  }

  test("AQE skew-join splits a planted hot key on the postings-join shape") {
    // the d03 postings self-join's hazard: one boilerplate shingle shared
    // by thousands of docs lands its whole pair fanout on one reducer.
    // With the skew thresholds scaled to fixture bytes, AQE must SPLIT
    // the hot partition across tasks — and the answer must not change.
    // Evidence that the engine's two skew defenses compose rather than
    // overlap: content-hash salting (x09) guards aggregations at plan
    // time, AQE skew-join guards join reducers at runtime.
    val hot = spark.range(3000).select(lit(7777L).as("sh"), col("id").as("doc_id"))
    val rare = spark.range(2000).select((col("id") + 10000L).as("sh"),
      col("id").as("doc_id"))
    val postings = hot.union(rare)
    def pairCount(): (Long, String) = {
      val a = postings.select(col("sh"), col("doc_id").as("id_a"))
      val b = postings.select(col("sh"), col("doc_id").as("id_b"))
      val q = a.join(b, "sh").filter(col("id_a") < col("id_b"))
        .groupBy().agg(count(lit(1)).as("n"))
      val n = q.collect().head.getLong(0)
      (n, q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
    }
    val expected = 3000L * 2999L / 2 // rare keys are unique -> no pairs
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try {
      val (n, p) = pairCount()
      assert(n === expected)
      assert(p.contains("skewed"), s"hot partition not split by AQE:\n$p")
      // same answer with the skew optimization off
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (nOff, pOff) = pairCount()
      assert(nOff === expected)
      assert(!pOff.contains("skewed"), s"skew split with the feature off?\n$pOff")
    } finally {
      Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.enabled").foreach(spark.conf.unset)
    }
  }

  test("minhash index: identical pairs to the one-shot path, index table never re-shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.llm.Dedup.buildMinhashIndex(docs, "doc_minhash_idx", w = 5, k = 32,
      buckets = 4)
    val inline = graft.llm.Dedup.minhashLshPairs(docs, w = 5, k = 32, bands = 16,
        minJ = 0.5)
      .collect().map(_.toString).sorted
    // force shuffle joins so the bucket layout (not a broadcast) is what
    // keeps the index side exchange-free
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val indexed = graft.llm.Dedup.minhashLshPairsIndexed(
        spark, "doc_minhash_idx", k = 32, bands = 16, minJ = 0.5)
      assert(indexed.collect().map(_.toString).sorted === inline,
        "indexed path must reproduce the one-shot LSH pairs exactly")
      val p = indexed.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // the verify-side shingle re-attach reads the bucket layout directly
      assert(p.contains("Bucketed: true"), s"index scan not bucketed:\n$p")
      // exchanges exist only for band postings (band, band_hash), the
      // candidate distinct, and candidate movement to the buckets — an
      // exchange keyed on the index's own doc_id would mean the stored
      // corpus re-shuffled for the join
      assert(!p.contains("Exchange hashpartitioning(doc_id"),
        s"index table re-shuffled on doc_id:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("minhash index append: incremental growth == full rebuild, write is batch-sized") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    graft.llm.Dedup.buildMinhashIndex(b1, "incr_idx", w = 5, k = 32, buckets = 4)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier("incr_idx")
    def meta() = spark.sessionState.catalog.getTableMetadata(ident)
    val loc = new org.apache.hadoop.fs.Path(meta().location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      val it = fs.listFiles(loc, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString
      }
      b.result()
    }
    val filesBefore = dataFiles()
    val specBefore = meta().bucketSpec

    graft.llm.Dedup.appendToMinhashIndex(b2, "incr_idx")

    // the append wrote ONLY batch-sized data: every pre-existing file
    // survives untouched and the new files hold exactly the batch's
    // signature rows — the stored corpus was never read or rewritten
    val filesAfter = dataFiles()
    assert(filesBefore.subsetOf(filesAfter),
      "append must not rewrite or drop existing index files")
    val newFiles = (filesAfter -- filesBefore).toSeq
    assert(newFiles.nonEmpty)
    val newRows = spark.read.parquet(newFiles: _*).count()
    val batchSigs = graft.llm.Dedup.withSignatures(b2, 5, 32)
      .filter(col("sig").isNotNull).count()
    assert(newRows === batchSigs,
      s"append wrote $newRows rows, batch has $batchSigs signature rows")
    // the bucket scheme is the table's own — an append can't diverge
    assert(meta().bucketSpec === specBefore)

    // serving parity: LSH pairs from the incrementally-grown index are
    // IDENTICAL to a from-scratch rebuild over the full corpus
    graft.llm.Dedup.buildMinhashIndex(docs, "full_idx", w = 5, k = 32, buckets = 4)
    val inc = graft.llm.Dedup.minhashLshPairsIndexed(spark, "incr_idx",
      k = 32, bands = 16, minJ = 0.5).collect().map(_.toString).sorted
    val full = graft.llm.Dedup.minhashLshPairsIndexed(spark, "full_idx",
      k = 32, bands = 16, minJ = 0.5).collect().map(_.toString).sorted
    assert(inc.nonEmpty && inc === full,
      "incrementally-grown index must serve the rebuild's exact pair set")

    // admission parity: copies of docs from BOTH halves are rejected and a
    // novel doc admitted, identically through either index
    val copies = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val probe = copies.union(Seq((999999L,
      "entirely novel vocabulary about bucketed append parity checks")).toDF("doc_id", "text"))
    def admit(table: String) = graft.llm.Dedup.nearDupAdmit(probe,
        graft.relational.Bucketing.read(spark, table), w = 5, k = 32,
        bands = 16, minJ = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaInc = admit("incr_idx")
    assert(viaInc === admit("full_idx"))
    assert(viaInc === Seq(999999L), s"admission set wrong: $viaInc")
  }

  test("asofJoin: at-or-before semantics, nulls before first right row, one shuffle, no join node") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 5L, "l3"), (3L, 9L, "l4"))
      .toDF("k", "t", "payload")
    val right = Seq(
      (1L, 10L, 100L, "a"),                    // equal ts: matches l1
      (1L, 15L, 101L, null.asInstanceOf[String]), // null FIELD must still win for l2
      (2L, 7L, 102L, "c"))                     // after l3 -> no match
      .toDF("k", "t", "rid", "rv")
    val got = AsOf.asofJoin(left, right, key = "k", time = "t",
        valueCols = Seq("rid", "rv"))
      .collect().map(r => (r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.getString(4)))).toSet
    assert(got === Set(
      ("l1", Some(100L), Some("a")),
      // l2 takes the t=15 row as a UNIT: rid 101 with its null rv — a
      // per-column ignoreNulls propagation would wrongly stitch rv="a"
      ("l2", Some(101L), None),
      ("l3", None, None),
      ("l4", None, None)))

    val q = AsOf.asofJoin(left, right, "k", "t", Seq("rid", "rv"))
    q.collect()
    // AQE repeats the plan under "== Initial Plan ==" — audit the final one
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"asofJoin should compile to union+window, not a join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected a single key shuffle, got $exchanges:\n$p")
  }

  test("rangeJoin: exact containment matches a BETWEEN join, via equi-join not nested loop") {
    val s = spark
    import s.implicits._
    // boundary-heavy fixture: points on interval edges, bin edges, outside
    val intervals = Seq((1L, 100L, 200L), (2L, 150L, 150L), (3L, 990L, 1210L))
      .toDF("interval_id", "start", "end")
    val points = (Seq(99L, 100L, 150L, 200L, 201L, 989L, 1000L, 1199L, 1210L, 1211L))
      .toDF("t")
    val got = RangeJoin.rangeJoin(intervals, points, "start", "end", "t", binWidth = 100L)
      .select("interval_id", "t").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = intervals.collect().flatMap { iv =>
      points.collect().map(_.getLong(0))
        .filter(t => t >= iv.getLong(1) && t <= iv.getLong(2))
        .map(t => (iv.getLong(0), t))
    }.toSet
    assert(got === expected)
    assert(expected.contains((2L, 150L)) && expected.contains((3L, 1210L)))

    val q = RangeJoin.rangeJoin(intervals, points, "start", "end", "t", 100L)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"range join fell back to a non-equi plan:\n$p")

    // negative time domain: `div` truncates toward zero (not floor), which
    // is still monotone non-decreasing, so bin(t) always lies within
    // [bin(start), bin(end)] and no containment can be missed
    val negIv = Seq((1L, -250L, -50L), (2L, -99L, 101L)).toDF("interval_id", "start", "end")
    val negPts = Seq(-250L, -101L, -100L, -50L, -49L, 0L, 100L, 101L, 102L).toDF("t")
    val gotNeg = RangeJoin.rangeJoin(negIv, negPts, "start", "end", "t", 100L)
      .select("interval_id", "t").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectNeg = negIv.collect().flatMap { iv =>
      negPts.collect().map(_.getLong(0))
        .filter(t => t >= iv.getLong(1) && t <= iv.getLong(2))
        .map(t => (iv.getLong(0), t))
    }.toSet
    assert(gotNeg === expectNeg)
  }

  test("intervalOverlapJoin: exactly-once pairs == the naive inequality join, equi-plan") {
    val s = spark
    import s.implicits._
    // boundary-heavy: touching endpoints (inclusive => overlap), nested,
    // disjoint, multi-bin spans, different keys never pair
    val a = Seq((1L, "u", 100L, 300L), (2L, "u", 250L, 260L), (3L, "u", 500L, 600L),
      (4L, "w", 100L, 300L))
      .toDF("a_id", "k", "a_start", "a_end")
    val b = Seq((10L, "u", 300L, 400L),  // touches a1 at 300 exactly
      (11L, "u", 0L, 1000L),             // spans everything (many shared bins)
      (12L, "u", 601L, 700L),            // just past a3
      (13L, "v", 100L, 300L))            // other key
      .toDF("b_id", "k", "b_start", "b_end")
    val got = RangeJoin.intervalOverlapJoin(a, b, Seq("k"),
        "a_start", "a_end", "b_start", "b_end", binWidth = 100L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once: no pair may surface twice even when many bins are shared
    assert(got.length === got.toSet.size, s"duplicate pairs: ${got.toSeq.sorted}")
    val naive = a.collect().flatMap { ra =>
      b.collect().filter(rb => ra.getString(1) == rb.getString(1) &&
          ra.getLong(2) <= rb.getLong(3) && rb.getLong(2) <= ra.getLong(3))
        .map(rb => (ra.getLong(0), rb.getLong(0)))
    }.toSet
    assert(got.toSet === naive)
    assert(naive === Set((1L, 10L), (1L, 11L), (2L, 11L), (3L, 11L)))

    val q = RangeJoin.intervalOverlapJoin(a, b, Seq("k"),
      "a_start", "a_end", "b_start", "b_end", 100L)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"overlap join fell back to a non-equi plan:\n$p")
  }

  test("x46 zonemap census: flat recompute; z-layout strictly beats linear on a clustered probe") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // 3 langs x 40 docs with lang-correlated lengths, ids shuffled by md5
    // so the LINEAR layout decorrelates from both probe dimensions
    def h32(p: String, v: String): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$p:$v").substring(0, 8), 16)
    val langs = Seq("en", "de", "zh")
    val docs = (0 until 120).map { i =>
      val lang = langs(i % 3)
      val len = 60 + (i % 3) * 150 + (h32("len", i.toString) % 80).toInt
      (h32("id", i.toString) % 100000, "x" * len, lang, len.toLong)
    }.toDF("doc_id", "text", "lang", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_x46").toString
    docs.write.parquet(s"$dir/documents.parquet")
    // flat recompute from first principles
    def zOf(a: Long, b: Long): Long =
      (0 until 16).map(i => (((a >> i) & 1L) << (2 * i)) |
        (((b >> i) & 1L) << (2 * i + 1))).sum
    val rows = (0 until 120).map { i =>
      val lang = langs(i % 3)
      val len = 60 + (i % 3) * 150 + (h32("len", i.toString) % 80).toInt
      val c8 = math.min(len / 4, 255).toLong
      val h8 = java.lang.Long.parseLong(org.apache.commons.codec.digest
        .DigestUtils.md5Hex(lang).substring(0, 4), 16) / 256
      (h32("id", i.toString) % 100000, lang, c8, h8)
    }
    val m = rows.map(_._1).max
    val zoneZ = rows.groupBy(r => zOf(r._3, r._4) / 4096).view.mapValues(g =>
      (g.map(_._3).min, g.map(_._3).max, g.map(_._4).min, g.map(_._4).max,
        g.size.toLong)).toMap
    val zoneL = rows.groupBy(r => r._1 / (m / 16 + 1)).view.mapValues(g =>
      (g.map(_._3).min, g.map(_._3).max, g.map(_._4).min, g.map(_._4).max,
        g.size.toLong)).toMap
    val want = (for {
      (lang, h8) <- rows.map(r => (r._2, r._4)).distinct
      band <- 0 until 8
    } yield {
      val lo = band * 32L
      def hit(z: Map[_, (Long, Long, Long, Long, Long)]) =
        z.values.filter(v => v._1 <= lo + 31 && v._2 >= lo &&
          v._3 <= h8 && v._4 >= h8).toSeq
      val nm = rows.count(r => r._2 == lang && r._3 / 32 * 32 == lo).toLong
      (lang, lo, nm, hit(zoneZ).size.toLong, hit(zoneL).size.toLong,
        hit(zoneZ).map(_._5).sum, hit(zoneL).map(_._5).sum)
    }).sortBy(r => (r._1, r._2))
    val got = graft.queries.ExtendedQueries("x46_zonemap_census")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === want, s"got\n${got.mkString("\n")}\nwant\n${want.mkString("\n")}")
    // the census must SHOW the win: on every live probe the z-layout
    // reads no more rows than linear, and strictly fewer somewhere
    val live = got.filter(_._3 > 0)
    assert(live.nonEmpty && live.forall(r => r._6 <= r._7))
    assert(live.exists(r => r._6 < r._7),
      "z-order must strictly beat linear on at least one probe")
  }

  test("zValue: Morton interleave goldens, clamping, and two-dimensional locality") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // goldens: bit i of a -> z-bit 2i, bit i of b -> z-bit 2i+1
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (65535L, 65535L), (-5L, 70000L))
      .toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(0L, 1L, 2L, 15L, (1L << 32) - 1,
      // clamped: a -> 0, b -> 65535 (odd bits set)
      (0 until 16).map(i => 1L << (2 * i + 1)).sum))

    // locality: buckets of the top z bits bound BOTH dimensions — for
    // points on a 2D grid, each 256-wide z-bucket spans at most a
    // 16x16 tile in (a, b), never a full row or column
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong))
      .toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue(col("a"), col("b")).as("z"))
      .withColumn("bucket", expr("z div 256"))
      .groupBy("bucket")
      .agg(max(col("a")) - min(col("a")), max(col("b")) - min(col("b")))
      .collect()
    assert(grid.nonEmpty)
    grid.foreach { r =>
      assert(r.getLong(1) <= 15 && r.getLong(2) <= 15,
        s"z-bucket spans more than a 16x16 tile: $r")
    }
  }

  test("z-order layout: a 2D box filter reads a fraction of the rows a hash layout scans") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // 64k points, both dims md5-spread over [0, 65536)
    val pts = (0 until 65536).map { i =>
      val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString)
      (java.lang.Long.parseLong(h.substring(0, 4), 16),
        java.lang.Long.parseLong(h.substring(4, 8), 16))
    }.toDF("x", "y")
    val hashDir = Files.createTempDirectory("graft_zskip_h").toString
    val zDir = Files.createTempDirectory("graft_zskip_z").toString
    pts.repartition(16).write.mode("overwrite").parquet(hashDir)
    pts.withColumn("z", Layout.zValue(col("x"), col("y")))
      .repartitionByRange(16, col("z")).sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(zDir)

    def scannedRows(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir)
        .filter(col("x").between(1000, 3000) && col("y").between(5000, 7000))
      // collect() drives THIS df's executedPlan, so its scan metrics are
      // the ones populated (a count() would execute a separate plan)
      val n = df.collect().length.toLong
      val scanned = df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
      (n, scanned)
    }
    val (nHash, scanHash) = scannedRows(hashDir)
    val (nZ, scanZ) = scannedRows(zDir)
    // same answer from both layouts...
    assert(nHash === nZ && nZ > 0, s"box results differ: $nHash vs $nZ")
    // ...but the hash layout's row groups all span the full domain (no
    // pruning: every row reaches the filter), while the z-layout's tight
    // min/max envelopes let the parquet reader skip most row groups
    assert(scanHash >= 60000L, s"hash layout unexpectedly pruned: $scanHash")
    assert(scanZ * 4 <= scanHash,
      s"z-order layout must scan <= 1/4 of the hash layout's rows, " +
        s"got z=$scanZ vs hash=$scanHash")
  }

  test("pageRank edge layout: stored bucketed graph serves the loop without edge-side exchanges") {
    val s = spark
    import s.implicits._
    // asymmetric graph: 200-node ring plus hub chords into node 0
    val edges = ((0 until 200).flatMap(i =>
      Seq((i.toLong, ((i + 1) % 200).toLong), (i.toLong, 0L))).distinct).toDF("src", "dst")
    graft.graph.PageRank.buildEdgeLayout(edges, "pr_layout_t", buckets = 4)

    // the storage split must be invisible in the result — bit-identical
    // integer ranks, including under mid-loop checkpointing
    val direct = graft.graph.PageRank.pageRankFixed(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val indexed = graft.graph.PageRank.pageRankIndexed(spark, "pr_layout_t", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(indexed === direct)
    // 7 rounds cross the every-5th-round lineage cut on both forms
    val directCk = graft.graph.PageRank.pageRankFixed(edges, iters = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val indexedCk = graft.graph.PageRank.pageRankIndexed(spark, "pr_layout_t", iters = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(indexedCk === directCk)

    // plan guarantee: with broadcast off (fixture tables are tiny; at
    // corpus scale neither side broadcasts — that is the case the layout
    // exists for), edges and degrees arrive through bucketed scans and
    // their co-bucketed join plans with NO exchange on either side
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = Bucketing.read(spark, "pr_layout_t_edges")
      val d = Bucketing.read(spark, "pr_layout_t_degrees")
      val joinPlan = e.join(d, "src").queryExecution.executedPlan.toString
      assert(joinPlan.contains("SelectedBucketsCount") || joinPlan.contains("Bucketed: true"),
        s"not a bucketed scan:\n$joinPlan")
      assert(!joinPlan.contains("Exchange"),
        s"co-bucketed edge/degree join still shuffles:\n$joinPlan")

      // one full round: the only hash exchanges left are rank-vector-sized
      // (contrib -> per-node sum; never the edge list). The direct form
      // plans strictly more exchanges (edge distinct, degree agg, node
      // distinct all shuffle the edge list).
      def exchanges(p: String): Int =
        "Exchange hashpartitioning".r.findAllMatchIn(p).size
      val pIdx = graft.graph.PageRank.pageRankIndexed(spark, "pr_layout_t", iters = 1)
        .queryExecution.executedPlan.toString
      val pDir = graft.graph.PageRank.pageRankFixed(edges, iters = 1)
        .queryExecution.executedPlan.toString
      assert(exchanges(pIdx) < exchanges(pDir),
        s"indexed form should shuffle less: indexed=${exchanges(pIdx)} direct=${exchanges(pDir)}")
      assert(pIdx.contains("SelectedBucketsCount") || pIdx.contains("Bucketed: true"),
        s"loop does not read the bucketed layout:\n$pIdx")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("pageRank layout append: batch-sized growth == rebuild, loop stays exchange-free") {
    val s = spark
    import s.implicits._
    // base graph: a 40-ring with two chords; batch: new edges including
    // duplicates of stored ones and a brand-new node 41
    val a = (0L until 40L).map(i => (i, (i + 1) % 40)) ++ Seq((0L, 20L), (5L, 25L))
    val b = (0L until 40L).map(i => (i, (i + 2) % 40)) ++
      Seq((0L, 20L), (7L, 3L), (41L, 0L), (3L, 41L))
    graft.graph.PageRank.buildEdgeLayout(a.toDF("src", "dst"), "pr_incr", buckets = 4)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier("pr_incr_edges")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(ident).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      val it = fs.listFiles(loc, true)
      val out = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) out += f.getPath.toString
      }
      out.result()
    }
    val filesBefore = dataFiles()

    graft.graph.PageRank.appendToEdgeLayout(b.toDF("src", "dst"), "pr_incr")

    // stored edges never rewritten; only the deduped batch appended
    val filesAfter = dataFiles()
    assert(filesBefore.subsetOf(filesAfter),
      "append must not rewrite or drop existing edge files")
    val newFiles = (filesAfter -- filesBefore).toSeq
    assert(newFiles.nonEmpty)
    val expectFresh = (b.toSet -- a.toSet).size
    assert(spark.read.parquet(newFiles: _*).count() === expectFresh.toLong,
      "append must write exactly the batch's NEW edges")
    // stored edge set keeps set semantics through the anti-join dedup
    val stored = graft.relational.Bucketing.read(spark, "pr_incr_edges")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stored.length === stored.distinct.length)

    // serving parity: grown layout == from-scratch rebuild, bit-identical
    graft.graph.PageRank.buildEdgeLayout((a ++ b).toDF("src", "dst"), "pr_full",
      buckets = 4)
    val inc = graft.graph.PageRank.pageRankIndexed(spark, "pr_incr")
      .collect().map(_.toString).sorted
    val full = graft.graph.PageRank.pageRankIndexed(spark, "pr_full")
      .collect().map(_.toString).sorted
    assert(inc.nonEmpty && inc === full)

    // the read-side degree sum + node distinct run on the bucketed scans'
    // own distribution: the contrib join over the GROWN layout still
    // plans zero exchanges
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = graft.relational.Bucketing.read(spark, "pr_incr_edges")
      val deg = graft.relational.Bucketing.read(spark, "pr_incr_degrees")
        .groupBy("src").agg(sum(col("deg")).as("deg"))
      val p = e.join(deg, "src").queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("Exchange"),
        s"grown edge/degree join shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("IVF index: identical results to the inline path, corpus scored in place") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    graft.llm.Similarity.buildIvfIndex(emb, "emb_ivf_idx", buckets = 4)

    val inline = graft.llm.Similarity.annIvf(emb, queries, k = 5)
      .collect().map(_.toString).sorted
    val indexed = graft.llm.Similarity.annIvfIndexed(
      spark, "emb_ivf_idx", queries, k = 5)
    assert(indexed.collect().map(_.toString).sorted === inline,
      "indexed path must reproduce the inline IVF result exactly")
    val p = indexed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("Bucketed: true"), s"index scan not bucketed:\n$p")
    // the serve path scores corpus vectors AT the scan (broadcast query
    // side): the only hash exchange is the top-k heap's partial->final
    // re-key on query_id — a corpus-keyed exchange would mean embeddings
    // shuffled for the probe join
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 1, s"corpus side shuffled ($n exchanges):\n$p")
  }

  test("filtered ANN: predicate pre-filters the index scan, k semantics exact over the slice") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    graft.llm.Similarity.buildIvfIndex(emb, "emb_ivf_filt", buckets = 4)
    val cents = graft.llm.Similarity.readIvfCentroids(spark, "emb_ivf_filt")
    val pred = col("label") % 2 === 0

    val filtered = graft.llm.Similarity.annIvfIndexed(
      spark, "emb_ivf_filt", queries, k = 5, predicate = Some(pred))
    // ground truth: an index built from ONLY the qualifying slice, with
    // the SAME frozen quantizer — pre-filter at serve time must equal it
    graft.llm.Similarity.buildIvfIndex(emb.filter(pred), "emb_ivf_slice",
      buckets = 4, centroids = Some(cents))
    val viaSlice = graft.llm.Similarity.annIvfIndexed(
      spark, "emb_ivf_slice", queries, k = 5)
    assert(filtered.collect().map(_.toString).sorted ===
      viaSlice.collect().map(_.toString).sorted,
      "serve-time pre-filter must equal an index built from the slice")
    // every returned neighbor satisfies the predicate (no post-filter
    // leakage), and results are non-trivial
    val idx = graft.relational.Bucketing.read(spark, "emb_ivf_filt")
    val bad = filtered.join(idx.filter(!pred).select(col("vec_id")
      .as("neighbor_id")), Seq("neighbor_id"), "left_semi")
    assert(filtered.count() > 0 && bad.count() === 0)
  }

  test("IVF index append: frozen-quantizer growth == rebuild, write is batch-sized") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val b1 = emb.filter(col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 8)
    graft.llm.Similarity.buildIvfIndex(b1, "ivf_incr_idx", buckets = 4)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier("ivf_incr_idx")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(ident).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      val it = fs.listFiles(loc, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString
      }
      b.result()
    }
    val filesBefore = dataFiles()
    val centsBefore = graft.llm.Similarity.readIvfCentroids(spark, "ivf_incr_idx")

    graft.llm.Similarity.appendToIvfIndex(b2, "ivf_incr_idx")

    val filesAfter = dataFiles()
    assert(filesBefore.subsetOf(filesAfter),
      "append must not rewrite or drop existing index files")
    val newFiles = (filesAfter -- filesBefore).toSeq
    assert(newFiles.nonEmpty)
    assert(spark.read.parquet(newFiles: _*).count() === b2.count(),
      "append must write exactly the batch's rows")
    // the quantizer is untouched by an append — retraining is a rebuild
    val centsAfter = graft.llm.Similarity.readIvfCentroids(spark, "ivf_incr_idx")
    assert(centsAfter.map(_.toSeq).toSeq === centsBefore.map(_.toSeq).toSeq,
      "append must not retrain the stored centroids")

    // serving parity: the grown index answers exactly like a full rebuild
    // with the SAME (frozen) centroids — the FAISS train/add contract
    graft.llm.Similarity.buildIvfIndex(emb, "ivf_full_idx", buckets = 4,
      centroids = Some(centsBefore))
    val viaIncr = graft.llm.Similarity.annIvfIndexed(
      spark, "ivf_incr_idx", queries, k = 5)
      .collect().map(_.toString).sorted
    val viaFull = graft.llm.Similarity.annIvfIndexed(
      spark, "ivf_full_idx", queries, k = 5)
      .collect().map(_.toString).sorted
    assert(viaIncr.nonEmpty && viaIncr === viaFull)
  }

  test("PQ index: identical results to the inline path, corpus never shuffles") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    graft.llm.Similarity.buildPqIndex(emb, "emb_pq_idx", buckets = 4)

    val inline = graft.llm.Similarity.annPq(emb, queries, k = 5)
      .collect().map(_.toString).sorted
    val indexed = graft.llm.Similarity.annPqIndexed(
      spark, "emb_pq_idx", queries, k = 5)
    assert(indexed.collect().map(_.toString).sorted === inline,
      "indexed path must reproduce the inline PQ result exactly")
    val p = indexed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("Bucketed: true"), s"index scan not bucketed:\n$p")
    // serve-path exchanges are query-keyed only (shortlist heap + final
    // heap); a corpus-keyed exchange would mean codes or embeddings
    // shuffled. The rerank re-attach reads the same bucketed table.
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"corpus side shuffled ($n exchanges):\n$p")
    assert(!"Exchange hashpartitioning\\(neighbor_id".r.findFirstIn(p).isDefined ||
      p.contains("Bucketed: true"), s"rerank re-attach not bucketed:\n$p")
  }

  test("PQ index append: frozen-codebook growth == rebuild, write is batch-sized") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val b1 = emb.filter(col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 8)
    graft.llm.Similarity.buildPqIndex(b1, "pq_incr_idx", buckets = 4)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier("pq_incr_idx")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(ident).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      val it = fs.listFiles(loc, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString
      }
      b.result()
    }
    val filesBefore = dataFiles()
    val (booksBefore, ksubBefore) =
      graft.llm.Similarity.readPqCodebooks(spark, "pq_incr_idx")

    graft.llm.Similarity.appendToPqIndex(b2, "pq_incr_idx")

    val filesAfter = dataFiles()
    assert(filesBefore.subsetOf(filesAfter),
      "append must not rewrite or drop existing index files")
    val newFiles = (filesAfter -- filesBefore).toSeq
    assert(newFiles.nonEmpty)
    assert(spark.read.parquet(newFiles: _*).count() === b2.count(),
      "append must write exactly the batch's rows")
    // codebooks untouched by an append — retraining is a rebuild decision
    val (booksAfter, ksubAfter) =
      graft.llm.Similarity.readPqCodebooks(spark, "pq_incr_idx")
    assert(ksubAfter === ksubBefore)
    assert(booksAfter.map(_.map(_.toSeq).toSeq).toSeq ===
      booksBefore.map(_.map(_.toSeq).toSeq).toSeq,
      "append must not retrain the stored codebooks")

    // serving parity: the grown index answers exactly like a full rebuild
    // with the SAME (frozen) codebooks
    graft.llm.Similarity.buildPqIndex(emb, "pq_full_idx", buckets = 4,
      codebooks = Some(booksBefore))
    val viaIncr = graft.llm.Similarity.annPqIndexed(
      spark, "pq_incr_idx", queries, k = 5)
      .collect().map(_.toString).sorted
    val viaFull = graft.llm.Similarity.annPqIndexed(
      spark, "pq_full_idx", queries, k = 5)
      .collect().map(_.toString).sorted
    assert(viaIncr.nonEmpty && viaIncr === viaFull)
  }

  test("dynamic partition overwrite replaces one partition's files, preserves the rest") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "en", 10L), (2L, "en", 20L), (3L, "fr", 30L), (4L, "nl", 40L))
      .toDF("doc_id", "lang", "n")
    val tmp = java.nio.file.Files.createTempDirectory("dynpart_t").toString
    base.write.mode("overwrite").partitionBy("lang").parquet(tmp)
    def files(sub: String): Set[String] = {
      val d = new java.io.File(s"$tmp/lang=$sub")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val frBefore = files("fr"); val nlBefore = files("nl"); val enBefore = files("en")
    assert(frBefore.nonEmpty && nlBefore.nonEmpty && enBefore.nonEmpty)
    // reprocess ONLY en
    Seq((1L, "en", 11L), (2L, "en", 22L)).toDF("doc_id", "lang", "n")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(tmp)
    // untouched partitions keep their exact physical files; en is replaced
    assert(files("fr") === frBefore, "fr partition files must be untouched")
    assert(files("nl") === nlBefore, "nl partition files must be untouched")
    assert(files("en").intersect(enBefore).isEmpty, "en partition must be rewritten")
    val got = spark.read.parquet(tmp)
      .select("doc_id", "lang", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "en", 11L), (2L, "en", 22L), (3L, "fr", 30L), (4L, "nl", 40L)))
  }

  test("IVFADC index: identical results to the inline path, probed lists read in place") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    graft.llm.Similarity.buildIvfPqIndex(emb, "emb_ivfpq_idx", buckets = 4)

    val inline = graft.llm.Similarity.annIvfPq(emb, queries, k = 5)
      .collect().map(_.toString).sorted
    val indexed = graft.llm.Similarity.annIvfPqIndexed(
      spark, "emb_ivfpq_idx", queries, k = 5)
    assert(indexed.collect().map(_.toString).sorted === inline,
      "indexed path must reproduce the inline IVFADC result exactly")
    val p = indexed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("Bucketed: true"), s"index scan not bucketed:\n$p")
    // serve-path exchanges are query-keyed only (shortlist heap + final
    // heap); a corpus-keyed exchange would mean codes or embeddings moved
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"corpus side shuffled ($n exchanges):\n$p")
  }

  test("IVFADC index append: frozen centroid+codebook growth == rebuild, batch-sized write") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val b1 = emb.filter(col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 8)
    graft.llm.Similarity.buildIvfPqIndex(b1, "ivfpq_incr_idx", buckets = 4)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier("ivfpq_incr_idx")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(ident).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      val it = fs.listFiles(loc, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString
      }
      b.result()
    }
    val filesBefore = dataFiles()
    val centsBefore = graft.llm.Similarity.readIvfCentroids(spark, "ivfpq_incr_idx")
    val (booksBefore, _) = graft.llm.Similarity.readPqCodebooks(spark, "ivfpq_incr_idx")

    graft.llm.Similarity.appendToIvfPqIndex(b2, "ivfpq_incr_idx")

    val filesAfter = dataFiles()
    assert(filesBefore.subsetOf(filesAfter),
      "append must not rewrite or drop existing index files")
    val newFiles = (filesAfter -- filesBefore).toSeq
    assert(newFiles.nonEmpty)
    assert(spark.read.parquet(newFiles: _*).count() === b2.count(),
      "append must write exactly the batch's rows")
    // BOTH parameter sets untouched by an append — the residual codebooks
    // are meaningful only relative to their centroids; the pair freezes
    val centsAfter = graft.llm.Similarity.readIvfCentroids(spark, "ivfpq_incr_idx")
    val (booksAfter, _) = graft.llm.Similarity.readPqCodebooks(spark, "ivfpq_incr_idx")
    assert(centsAfter.map(_.toSeq).toSeq === centsBefore.map(_.toSeq).toSeq)
    assert(booksAfter.map(_.map(_.toSeq).toSeq).toSeq ===
      booksBefore.map(_.map(_.toSeq).toSeq).toSeq)

    // serving parity: the grown index answers exactly like a full rebuild
    // with the SAME (frozen) parameter pair
    graft.llm.Similarity.buildIvfPqIndex(emb, "ivfpq_full_idx", buckets = 4,
      params = Some((centsBefore, booksBefore)))
    val viaIncr = graft.llm.Similarity.annIvfPqIndexed(
      spark, "ivfpq_incr_idx", queries, k = 5)
      .collect().map(_.toString).sorted
    val viaFull = graft.llm.Similarity.annIvfPqIndexed(
      spark, "ivfpq_full_idx", queries, k = 5)
      .collect().map(_.toString).sorted
    assert(viaIncr.nonEmpty && viaIncr === viaFull)
  }

  test("compaction refuses a bucketed table dir; serving stays intact") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bktcompact_t").toString + "/tbl"
    graft.relational.Bucketing.writeBucketed(
      (1L to 100L).map(i => (i, i * 2)).toDF("k", "v"),
      "bkt_compact_guard_t", "k", 4, path = Some(dir))
    val before = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(before.nonEmpty)
    val e = intercept[IllegalArgumentException] {
      graft.relational.Compaction.compactDir(spark, dir, targetBytes = 1 << 20)
    }
    assert(e.getMessage.contains("bucketed"), e.getMessage)
    val after = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(after === before, "refusal must leave every file untouched")
    // the table still serves through its bucket layout
    assert(spark.table("bkt_compact_guard_t").count() === 100)
  }

  test("compaction recovers from a dead prior attempt's staging dir") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = Files.createTempDirectory("graft_compact_crash").toString
    docs.repartition(16).write.mode("overwrite").parquet(dir)
    // a compactor killed mid-write leaves _compact_tmp behind; underscore
    // prefix means readers never see it, and the next pass must replace
    // it rather than fold its half-written junk into the table
    val staging = new java.io.File(dir, "_compact_tmp")
    staging.mkdir()
    val junk = new java.io.File(staging, "part-junk.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    val want = docs.select(col("doc_id"), md5(col("text")).as("m"))
      .collect().map(_.toString).sorted

    val r = graft.relational.Compaction.compactDir(spark, dir,
      targetBytes = 64L << 20)

    assert(r.rewritten === 16)
    assert(!staging.exists(), "staging dir must be cleaned up")
    val got = spark.read.parquet(dir)
      .select(col("doc_id"), md5(col("text")).as("m"))
      .collect().map(_.toString).sorted
    assert(got === want, "junk from the dead attempt must not leak into the table")
  }

  test("compaction folds only the small files, keeps big ones untouched, converges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = Files.createTempDirectory("graft_compact_spec").toString
    // planted mix: 2 "big" files from the even half, 32 trigger-sized
    // debris files from the odd half
    docs.filter(col("doc_id") % 2 === 0).repartition(2)
      .write.mode("overwrite").parquet(dir)
    docs.filter(col("doc_id") % 2 === 1).repartition(32)
      .write.mode("append").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(f => f.getPath.getName -> f.getLen).toMap
    val before = files()
    val sizes = before.values.toSeq.sorted.reverse
    val bigNames = before.filter(_._2 >= sizes(1)).keySet // the 2 largest
    // threshold strictly between the biggest debris and the smallest big
    val threshold = (sizes(1) + sizes.drop(2).max) / 2
    val want = docs.select(col("doc_id"), md5(col("text")).as("m"))
      .collect().map(_.toString).sorted

    val r = graft.relational.Compaction.compactDir(spark, dir,
      targetBytes = 64L << 20, smallBytes = threshold)

    assert(r.filesBefore === 34 && r.kept === 2 && r.rewritten === 32)
    val after = files()
    assert(r.filesAfter === after.size)
    // big files survive byte-identical under their original names
    bigNames.foreach(n => assert(after.get(n) === before.get(n),
      s"big file $n was touched"))
    // the 32 debris files are gone, folded into few target-sized files
    assert(after.size < 34 - 32 + 3, s"debris not folded: ${after.size} files")
    // content fidelity: every row survives, none invented
    val got = spark.read.parquet(dir)
      .select(col("doc_id"), md5(col("text")).as("m"))
      .collect().map(_.toString).sorted
    assert(got === want)
    // fixpoint: a second pass with the same knobs is a no-op
    val r2 = graft.relational.Compaction.compactDir(spark, dir,
      targetBytes = 64L << 20, smallBytes = threshold)
    assert(r2.rewritten === 0 && files() === after,
      "second pass must not churn the layout")
  }

  test("BFS known-set fold: per-round anti-join side is log-many blocks, content exact") {
    import spark.implicits._
    // FoldedSet invariant directly: after n adds, <= log2(n)+1 blocks and
    // the view is exactly the union of everything pushed — this is the
    // per-round READ bound of bfsDistances' anti-join side (r8 verdict #5:
    // a diameter-sized run must not scan `hops` separate blocks per round)
    val fold = new graft.graph.Bfs.FoldedSet
    var pushed = Set.empty[Long]
    for (i <- 1 to 33) {
      fold.add(Seq(i.toLong, 1000L + i).toDF("node"))
      pushed ++= Set(i.toLong, 1000L + i)
      val bound = 64 - java.lang.Long.numberOfLeadingZeros(i.toLong) // floor(log2)+1
      assert(fold.nBlocks <= bound,
        s"after $i adds: ${fold.nBlocks} blocks > log bound $bound")
      if (i % 11 == 0)
        assert(fold.view.as[Long].collect().toSet == pushed,
          s"fold view diverged from pushed content after $i adds")
    }
    // end-to-end on a 64-node path graph (diameter-sized hop count — the
    // shape that made the old all-frontiers union O(V * hops) reads):
    // distances stay exact under the folded anti-join side
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val d = graft.graph.Bfs.bfsDistances(path, Seq(0L).toDF("node"), maxHops = 70)
      .as[(Long, Long)].collect().toMap
    assert(d.size == 64 && (0L until 64L).forall(i => d(i) == i),
      "path-graph hop distances must be node index")
  }

  test("delete vectors: MoR read == filtered base, overlapping re-delete is a no-op") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_dv_spec").toString
    (1L to 10L).map(i => (i, i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "_pos", "parity")
      .write.parquet(s"$tmp/base")
    val b = spark.read.parquet(s"$tmp/base")
    // no DV dir yet: base verbatim
    assert(DeleteVectors.read(spark, s"$tmp/base", s"$tmp/dv").count() === 10L)
    // batch 1 deletes evens, batch 2 deletes ids <= 4 (overlaps 2 and 4)
    DeleteVectors.appendDeletes(
      b.filter(col("parity") === "even").select("_pos"), s"$tmp/dv")
    DeleteVectors.appendDeletes(
      b.filter(col("id") <= 4).select("_pos"), s"$tmp/dv")
    val kept = DeleteVectors.read(spark, s"$tmp/base", s"$tmp/dv")
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(5L, 7L, 9L), s"got $kept")
    // replaying batch 2 verbatim changes nothing (idempotent deletes)
    DeleteVectors.appendDeletes(
      b.filter(col("id") <= 4).select("_pos"), s"$tmp/dv")
    val again = DeleteVectors.read(spark, s"$tmp/base", s"$tmp/dv")
      .select("id").as[Long].collect().sorted.toSeq
    assert(again === kept)
    // an existing-but-empty DV dir (e.g. a failed first append) must read
    // the base verbatim, not crash parquet schema inference
    val empty = s"$tmp/dv_empty"
    Files.createDirectory(java.nio.file.Paths.get(empty))
    assert(DeleteVectors.read(spark, s"$tmp/base", empty).count() === 10L)
    // existence probing goes through the Hadoop FS API (scheme-qualified
    // paths must behave like bare local paths — the java.io.File probe
    // that broke on non-local filesystems also broke on file:// URIs)
    assert(DeleteVectors.read(spark, s"file://$tmp/base",
      s"file://$tmp/dv").select("id").as[Long].collect().sorted.toSeq === kept)
  }
}
