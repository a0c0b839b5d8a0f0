package graft.curate

import graft.Config
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The curate layer: builds the denormalized 24-column `adressen` table
 * (reference: database_sqlite.py:291-529) from the 8 raw BAG tables.
 *
 * SQLite's imperative UPDATE-FROM chain becomes a sequence of left joins with
 * `when(matched, new).otherwise(old)` re-selects. Order matters and mirrors
 * the reference's call order (database_sqlite.py:378-394):
 *   J1 five-way join -> J3 multi-pand repair -> J4 ligplaatsen ->
 *   J5 standplaatsen -> J7 woonplaats override -> J6 nevenadressen (last),
 * then U1-U3 dummy-value cleaning (database_sqlite.py:542-614).
 *
 * Scale notes (100 TB thinking):
 *  - nummers/verblijfsobjecten/panden are the big fan (~9M each in the real
 *    BAG; arbitrarily larger in principle): those joins shuffle on their keys.
 *  - openbare_ruimten (~250k) and woonplaatsen (~2.5k) are dimension-sized:
 *    broadcast them. The fact joins run vbo⋈pand FIRST (two narrow tables
 *    shuffle on the pand key), then nummers⋈(vbo+pand) on nummer_id — so
 *    the wide frame is born partitioned by nummer_id and shuffles on it
 *    exactly ONCE (into the arg_max PK dedup).
 *  - every enrichment join (J3-J7) keys on nummer_id, the same ATTRIBUTE
 *    as the dedup's group key (no rename — r11: an `.as("__k")` alias had
 *    severed the partitioning link and bought a full extra shuffle+sort of
 *    the wide frame): consecutive joins reuse the partitioning, only the
 *    small update sides shuffle. CuratePlanSpec asserts this shape with
 *    broadcasts disabled.
 *  - adressen4 feeds both sides of the J6 self-join; it is persisted so
 *    the J1-J7 chain executes once, not twice (released via
 *    [[releaseCaches]]).
 */
object Adressen {

  /** Raw-layer inputs, as produced by BagXml.readAll + Gemeenten.read. */
  final case class BagTables(
      woonplaatsen: DataFrame,
      gemeenteWoonplaatsen: DataFrame,
      openbareRuimten: DataFrame,
      nummers: DataFrame,
      panden: DataFrame,
      verblijfsobjecten: DataFrame,
      ligplaatsen: DataFrame,
      standplaatsen: DataFrame,
      gemeenten: DataFrame,
      provincies: DataFrame)

  /**
   * J2: copy gemeente_id from the bridge table into woonplaatsen
   * (reference: database_sqlite.py:79-85). UPDATE-join -> join + coalesce.
   * The bridge may carry duplicates per woonplaats; pick deterministically
   * the greatest gemeente_id (the reference's UPDATE order is arbitrary).
   */
  def woonplaatsenWithGemeente(woonplaatsen: DataFrame, gwr: DataFrame): DataFrame = {
    val gw = gwr.groupBy("woonplaats_id").agg(max("gemeente_id").as("gemeente_id"))
    woonplaatsen.join(broadcast(gw), woonplaatsen("id") === gw("woonplaats_id"), "left")
      .select(woonplaatsen("*"), gw("gemeente_id"))
  }

  /** P4: street display name (reference: database_sqlite.py:94-97). */
  def withStraatNaam(openbareRuimten: DataFrame, useShort: Boolean): DataFrame =
    openbareRuimten.withColumn("naam",
      if (useShort) when(col("verkorte_naam") =!= "", col("verkorte_naam"))
        .otherwise(col("lange_naam"))
      else col("lange_naam"))

  /** Overwrite a set of columns from a matched update-side, preserving the
    * original values on non-matched rows — the DataFrame form of SQLite's
    * `UPDATE t SET ... FROM u WHERE u.k = t.k`. */
  private def updateJoin(
      base: DataFrame,
      updates: DataFrame,          // must contain `key` + the new-value columns
      key: String,
      setCols: Map[String, Column => Column]): DataFrame = {
    // updates often derive from base (e.g. the nevenadres self-join), so
    // qualify both sides with aliases to defeat self-join ambiguity.
    val b = base.alias("__base")
    val u = updates.withColumn("__matched", lit(true)).alias("__upd")
    val joined = b.join(u, col(s"__base.$key") === col(s"__upd.$key"), "left")
    val out = base.columns.map { c =>
      if (setCols.contains(c))
        when(col("__upd.__matched"), setCols(c)(col(s"__base.$c")))
          .otherwise(col(s"__base.$c")).as(c)
      else col(s"__base.$c").as(c)
    }
    joined.select(out.toIndexedSeq: _*)
  }

  /** J1 + J3..J7 + J6: the full adressen build. */
  def build(t: BagTables, cfg: Config): DataFrame = {
    val n = t.nummers
    val o = withStraatNaam(t.openbareRuimten, cfg.useShortStreetNames).alias("o")
    val w = woonplaatsenWithGemeente(t.woonplaatsen, t.gemeenteWoonplaatsen).alias("w")
    val v = t.verblijfsobjecten.alias("v")
    val p = t.panden.alias("p")

    // ---- J1: five-way left join (database_sqlite.py:323-375).
    // The reference joins panden on the raw comma-joined pand_id, so only
    // single-pand verblijfsobjecten match; multi-pand rows stay NULL here and
    // are repaired by J3. With arrays: join on the sole element iff size==1.
    //
    // Join ORDER is vbo⋈pand FIRST, then nummers⋈(vbo+pand) — semantically
    // identical to the reference's n⋈...⋈v⋈p (left joins over distinct
    // keys associate: pand columns are NULL exactly when the vbo is NULL
    // or multi-pand either way), but the pand-key shuffle then moves only
    // the two narrow fact tables, and the combined frame arrives at the
    // nummers join — and leaves it — partitioned by nummer_id, which the
    // arg_max dedup and every J3-J7 enrichment join below reuse (r11:
    // the old order shuffled the full five-way-wide frame by pand key and
    // then re-shuffled it by nummer_id for the dedup).
    val vSingle = v.withColumn("__pand_join_id",
      when(size(col("pand_id")) === 1, element_at(col("pand_id"), 1)))

    // NULL join keys (multi-pand or pand-less vbo's) all hash to ONE
    // shuffle partition — a straggler/OOM magnet at full-BAG scale. A
    // per-row sentinel that can never match a pand id (pand ids are
    // 16-digit strings) keeps unmatched rows spread evenly; the left
    // join still yields NULL pand columns for them.
    val vp = vSingle.alias("v")
      .join(p, coalesce(col("v.__pand_join_id"),
        concat(lit("__geen_pand__:"), col("v.id"))) === col("p.id"), "left")

    val j1 = n.alias("n")
      .join(broadcast(o), col("o.id") === col("n.openbare_ruimte_id"), "left")
      .join(broadcast(w), col("w.id") === col("o.woonplaats_id"), "left")
      .join(vp, col("v.nummer_id") === col("n.id"), "left")
      .select(
        col("n.id").as("nummer_id"),
        col("n.begindatum_geldigheid").as("nummer_begindatum_geldigheid"),
        col("n.einddatum_geldigheid").as("nummer_einddatum_geldigheid"),
        col("p.id").as("pand_id"),
        col("p.begindatum_geldigheid").as("pand_begindatum_geldigheid"),
        col("p.einddatum_geldigheid").as("pand_einddatum_geldigheid"),
        col("v.id").as("verblijfsobject_id"),
        col("w.gemeente_id").as("gemeente_id"),
        col("o.woonplaats_id").as("woonplaats_id"),
        col("o.id").as("openbare_ruimte_id"),
        lit("verblijfsobject").as("object_type"),
        concat_ws(",", col("v.gebruiksdoel")).as("gebruiksdoel"),
        col("n.postcode"), col("n.huisnummer"), col("n.huisletter"), col("n.toevoeging"),
        col("v.oppervlakte"),
        col("v.rd_x"), col("v.rd_y"), col("v.latitude"), col("v.longitude"),
        col("p.bouwjaar"),
        lit(null).cast("string").as("hoofd_nummer_id"),
        coalesce(col("p.geometry"), lit(null).cast("string")).as("geometry"))

    // nummer_id is the PK (reference: PRIMARY KEY on adressen.nummer_id); a
    // nummer referenced by >1 hoofdadres-vbo would crash the reference's
    // INSERT — we keep a deterministic winner instead. ArgMax hash
    // aggregate, not a window: one winner row of state per nummer with
    // map-side partials, no per-key sort of the joined rows (struct-max
    // null-smallest == the old DESC NULLS LAST). ArgMax's determinism
    // contract requires ord unique per group; vbo ids are unique
    // post-ingest-dedup, but the woonplaats bridge can fan one vbo into
    // several (gemeente_id) rows — append the full payload as content
    // tie-break so equal-ord rows are identical rows and the winner never
    // depends on merge order.
    // groupBy the UNRENAMED nummer_id so the aggregate's output keeps the
    // same attribute the J3-J7 joins key on — Spark then recognizes the
    // hash partitioning and the whole enrichment chain runs without
    // another exchange of the wide frame (r11: the old `.as("__k")`
    // severed that link and bought an extra full shuffle + sort).
    // NOTE (r12): a built-in max(struct(ord, payload...)) was tried here —
    // it elects the identical winner, but a struct-typed aggregation
    // buffer is not hash-map-mutable, so it PLANS AS A SORT AGGREGATE and
    // the 1M-address BAG probe measured curate 14 s -> 45 s (the sort of
    // the full five-way-wide frame). The TypedImperativeAggregate arg_max
    // keeps the ObjectHashAggregate plan: map-side partials, no Sort
    // operator. A task whose hash map passes
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128) keys
    // still sorts its remaining input at run time (SortBasedAggregator
    // fallback, see ArgMax).
    val j1Cols = j1.columns
    val j1Rest = j1Cols.filter(_ != "nummer_id").toIndexedSeq
    val j1Ord = struct((col("verblijfsobject_id") +:
      j1Cols.toIndexedSeq.zipWithIndex.map { case (c, i) => col(c).as(s"__t$i") }): _*)
    val adressen0 = j1.groupBy(col("nummer_id"))
      .agg(graft.functions.VectorAggregates.argMax(
        j1Ord,
        struct(j1Rest.map(col): _*)).as("__w"))
      .select((col("nummer_id") +: j1Rest.map(c => col(s"__w.$c").as(c))): _*)

    // ---- J3: multi-pand repair (database_sqlite.py:398-437).
    // The reference explodes pand_id and lets the last UPDATE win ("only last
    // one remains", comment :419-420); arrival order is list order, so the
    // deterministic mirror is the LAST element of the pand_id array.
    // Dedup to one row per nummer_id first: two active multi-pand vbo's
    // sharing a hoofdadres would otherwise fan out the left join and break
    // the one-row-per-nummer PK invariant (ADVICE r1).
    val lastPand = v.filter(size(col("pand_id")) > 1)
      .groupBy(col("nummer_id"))
      .agg(graft.functions.VectorAggregates.argMax(
        struct(col("id")), element_at(col("pand_id"), -1)).as("__last_pid"))
      .join(p, col("__last_pid") === col("p.id"), "left")
      .select(col("nummer_id"),
        col("p.geometry").as("__new_geometry"),
        col("p.bouwjaar").as("__new_bouwjaar"))
    val adressen1 = updateJoin(adressen0, lastPand, "nummer_id", Map(
      "geometry" -> (_ => col("__new_geometry")),
      "bouwjaar" -> (_ => col("__new_bouwjaar"))))

    // ---- J4/J5: ligplaatsen then standplaatsen override coordinates +
    // geometry + object_type (database_sqlite.py:440-464). Standplaats runs
    // after and therefore wins on conflict; within a table the greatest id
    // wins (the reference's multi-match UPDATE order is arbitrary). FUSED
    // into one pass (r11): the sequential form was two identical
    // updateJoins of the full-width frame; arg_max over (priority, id)
    // with standplaats priority 1 elects the same winner per nummer —
    // greatest-id standplaats if any, else greatest-id ligplaats — in ONE
    // join. Half the enrichment passes at 9M for free.
    val plaatsCols = Seq("id", "nummer_id", "rd_x", "rd_y",
      "latitude", "longitude", "geometry").map(col)
    val plaatsen = t.ligplaatsen.select(plaatsCols :+ lit(0).as("__pri"): _*)
      .union(t.standplaatsen.select(plaatsCols :+ lit(1).as("__pri"): _*))
    val plaatsOne = plaatsen.filter(col("nummer_id") =!= "")
      .groupBy(col("nummer_id"))
      .agg(graft.functions.VectorAggregates.argMax(
        struct(col("__pri"), col("id")),
        struct(col("rd_x").as("__rd_x"), col("rd_y").as("__rd_y"),
          col("latitude").as("__lat"), col("longitude").as("__lon"),
          col("geometry").as("__geom"),
          when(col("__pri") === 1, lit("standplaats"))
            .otherwise(lit("ligplaats")).as("__otype"))).as("__w"))
      .select(col("nummer_id"), col("__w.__rd_x").as("__rd_x"),
        col("__w.__rd_y").as("__rd_y"), col("__w.__lat").as("__lat"),
        col("__w.__lon").as("__lon"), col("__w.__geom").as("__geom"),
        col("__w.__otype").as("__otype"))
    val adressen3 = updateJoin(adressen1, plaatsOne, "nummer_id", Map(
      "rd_x" -> (_ => col("__rd_x")), "rd_y" -> (_ => col("__rd_y")),
      "latitude" -> (_ => col("__lat")), "longitude" -> (_ => col("__lon")),
      "geometry" -> (_ => col("__geom")),
      "object_type" -> (_ => col("__otype"))))

    // ---- J7: a nummer's own woonplaats overrides the street's
    // (database_sqlite.py:523-529).
    val numWpl = n.filter(col("woonplaats_id") =!= "")
      .select(col("id").as("nummer_id"), col("woonplaats_id").cast("long").as("__wpl"))
    // Persist: adressen4 feeds BOTH sides of the J6 self-join (the hoofd
    // value lookup AND the update base) — without a cut the whole
    // J1-J3-J4/J5-J7 chain executes twice (r11: at 9M that was ~half the
    // curate wall). Tracked in persistedFrames; released by
    // releaseCaches after the curated layer is written.
    val adressen4 = updateJoin(adressen3, numWpl, "nummer_id", Map(
      "woonplaats_id" -> (_ => col("__wpl"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persistedFrames.add(adressen4)

    // ---- J6: nevenadres backfill, LAST so it reads fully-enriched hoofd rows
    // (database_sqlite.py:466-518). Explode the nevenadressen array into
    // (hoofd, neven) pairs; neven_nummer_id is a PK in the reference's temp
    // table, so dedup deterministically (greatest hoofd).
    val pairs = v.filter(size(col("nevenadressen")) > 0)
      .select(col("nummer_id").as("__hoofd"),
        explode(col("nevenadressen")).as("__neven"))
      .groupBy("__neven").agg(max("__hoofd").as("__hoofd"))
    val hoofdVals = pairs.join(adressen4,
        pairs("__hoofd") === adressen4("nummer_id"), "left")
      .select(col("__neven").as("nummer_id"), col("__hoofd").as("__new_hoofd"),
        adressen4("pand_id").as("__pand_id"),
        adressen4("verblijfsobject_id").as("__vbo_id"),
        adressen4("gebruiksdoel").as("__gebruiksdoel"),
        adressen4("oppervlakte").as("__oppervlakte"),
        adressen4("rd_x").as("__rd_x"), adressen4("rd_y").as("__rd_y"),
        adressen4("latitude").as("__lat"), adressen4("longitude").as("__lon"),
        adressen4("bouwjaar").as("__bouwjaar"),
        adressen4("geometry").as("__geom"))
    val adressen5 = updateJoin(adressen4, hoofdVals, "nummer_id", Map(
      "hoofd_nummer_id" -> (_ => col("__new_hoofd")),
      "pand_id" -> (_ => col("__pand_id")),
      "verblijfsobject_id" -> (_ => col("__vbo_id")),
      "gebruiksdoel" -> (_ => col("__gebruiksdoel")),
      "oppervlakte" -> (_ => col("__oppervlakte")),
      "rd_x" -> (_ => col("__rd_x")), "rd_y" -> (_ => col("__rd_y")),
      "latitude" -> (_ => col("__lat")), "longitude" -> (_ => col("__lon")),
      "bouwjaar" -> (_ => col("__bouwjaar")),
      "geometry" -> (_ => col("__geom"))))

    adressen5
  }

  /**
   * U1/U2: null out BAG dummy values (database_sqlite.py:542-601):
   * bouwjaar 1005 (Amsterdam dummy) or > 2040; oppervlakte 999999 or 1.
   */
  def removeDummyValues(adressen: DataFrame): DataFrame = adressen
    .withColumn("bouwjaar",
      when(col("bouwjaar") === 1005 || col("bouwjaar") > 2040, lit(null))
        .otherwise(col("bouwjaar")))
    .withColumn("oppervlakte",
      when(col("oppervlakte") === 999999 || col("oppervlakte") === 1, lit(null))
        .otherwise(col("oppervlakte")))

  /**
   * U3: drop addresses without a valid openbare ruimte, but only when there
   * are fewer than `cfg.deleteOrphansBelow` of them (database_sqlite.py:604-612)
   * — a data-quality tripwire: a few orphans are noise, many mean a broken load.
   */
  def deleteOrphans(adressen: DataFrame, openbareRuimten: DataFrame, cfg: Config): DataFrame = {
    // Single broadcast left join: a NULL __opr_id marks an orphan (either a
    // NULL openbare_ruimte_id — never matches — or an id with no dim row).
    // The tripwire count is a COUNT-ONLY pre-pass (r10 carried item #4):
    // Catalyst prunes the aggregate's replay down to the
    // openbare_ruimte_id lineage, and the replay is bounded by the
    // adressen4 persist in [[build]] — so the corpus-wide frame is never
    // cached here just to be counted once and written once. (r1's
    // original persist predated that cache: an un-persisted double count
    // then replayed the whole build DAG.)
    val oprIds = openbareRuimten.select(col("id").as("__opr_id"))
    val joined = adressen
      .join(broadcast(oprIds), col("openbare_ruimte_id") === col("__opr_id"), "left")
    val orphanCount = joined
      .agg(count(when(col("__opr_id").isNull, lit(1))).as("n"))
      .first().getLong(0)
    if (orphanCount > 0 && orphanCount < cfg.deleteOrphansBelow)
      joined.filter(col("__opr_id").isNotNull).drop("__opr_id")
    else joined.drop("__opr_id")
  }

  /** Full curate: build + clean + conditional orphan delete. The result is
    * backed by the adressen4 persist() in [[build]]; `.unpersist()` on the
    * returned (derived) frame does NOT release that cache — call
    * [[releaseCaches]] after materializing downstream layers, as
    * Pipeline.importBag does. */
  def curated(t: BagTables, cfg: Config): DataFrame = {
    val built = removeDummyValues(build(t, cfg))
    deleteOrphans(built, t.openbareRuimten, cfg)
  }

  /** Frames this module persisted and still owns (Dataset.unpersist on a
    * derived frame cannot reach an ancestor's cache entry, so the original
    * reference is tracked here). */
  private val persistedFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Release exactly the caches this module created (the deleteOrphans
    * persist), leaving unrelated session caches — Validate's, user code's —
    * untouched. Batch pipelines call this after the curated layer is
    * written out. (r2 used spark.catalog.clearCache(), which evicted every
    * cached plan in the session mid-flight.) */
  def releaseCaches(spark: org.apache.spark.sql.SparkSession): Unit = {
    var df = persistedFrames.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = persistedFrames.poll()
    }
  }
}
