package graft.scd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Slowly-changing-dimension operators — the reference's signature
  * capability (reference `Terraform/sql/010_scd_dimensions.sql:30-521`,
  * `analytics/etl/load_dimensions.py:88-270`), re-expressed as single-pass
  * DataFrame merges instead of multi-statement UPDATE/INSERT procedures.
  *
  * The batch SCD2 merge is ONE full-outer join classifying every row as
  * {history, unchanged, closed, new-version, brand-new} — where the
  * reference needs three correlated statements plus a "closed within 5
  * minutes" heuristic to link them (`010:442-449`), the join makes the
  * changed-set explicit. Dimensions are small relative to facts, so at
  * cluster scale this is a broadcast join followed by a rewrite of the
  * dimension table (write-temp-then-swap; no ACID table format assumed).
  *
  * Conventions (mirroring the reference DDL): `version` INT starting at 1,
  * `est_actif` INT 0/1, `date_debut_validite`/`date_fin_validite` DATE.
  */
object Scd {
  val Meta = Seq("version", "est_actif", "date_debut_validite", "date_fin_validite")

  private def bkCond(l: String, r: String, bk: Seq[String]): Column =
    bk.map(k => col(s"$l.$k") === col(s"$r.$k")).reduce(_ && _)

  private def changedCond(l: String, r: String, tracked: Seq[String]): Column =
    tracked.map(c => !(col(s"$l.$c") <=> col(s"$r.$c"))).reduce(_ || _)

  /** Seed a dimension snapshot with SCD2 metadata (version 1, active). */
  def seed(attrs: DataFrame, startDate: String): DataFrame =
    attrs.withColumn("version", lit(1))
      .withColumn("est_actif", lit(1))
      .withColumn("date_debut_validite", lit(startDate).cast("date"))
      .withColumn("date_fin_validite", lit(null).cast("date"))

  /** SCD Type 1: overwrite tracked attributes in place (no history).
    * Null-safe change detection mirrors the reference's pd.notna guards
    * (`load_dimensions.py:115`). Returns the rewritten dimension plus a
    * `changed` 0/1 audit column (the reference logs old values). */
  def scd1(dim: DataFrame, updates: DataFrame, bk: Seq[String],
      tracked: Seq[String]): DataFrame = {
    val d = dim.alias("d")
    val u = updates.alias("u")
    val joined = d.join(u, bkCond("d", "u", bk), "left")
    val changed = changedCond("d", "u", tracked) &&
      tracked.map(c => col(s"u.$c").isNotNull).reduce(_ || _)
    val attrs = dim.columns.toSeq
    joined.select(
      attrs.map {
        case c if tracked.contains(c) =>
          when(changed, coalesce(col(s"u.$c"), col(s"d.$c")))
            .otherwise(col(s"d.$c")).as(c)
        case c => col(s"d.$c").as(c)
      } :+ when(changed, 1).otherwise(0).as("changed"): _*)
  }

  /** Batch SCD Type 2 merge: close changed current rows, append the new
    * versions, insert never-seen keys — one full-outer join pass.
    * `dim` must carry the Meta columns (see `seed`); `updates` carries the
    * attribute columns only. */
  def scd2(dim: DataFrame, updates: DataFrame, bk: Seq[String],
      tracked: Seq[String], effectiveDate: String): DataFrame =
    scd2Merge(dim, updates, bk, tracked, effectiveDate, opCol = None)

  /** `lit(s).cast("date")` as a bound value ([[graft.core.Bound]]), so
    * the merges of successive effective dates share their compiled
    * classes; a string Spark cannot parse keeps the cast and its error. */
  private def dateOf(s: String): Column =
    DateTimeUtils.stringToDate(UTF8String.fromString(s))
      .fold(lit(s).cast("date"))(d =>
        graft.core.Bound.value(java.time.LocalDate.ofEpochDay(d.toLong)))

  /** [[scd2]]'s one full-outer pass. With `opCol`, `updates` is a CDC
    * feed's latest row per key and a `'D'` row closes the key instead:
    * a matched `'D'` emits only the closed current version, an unmatched
    * one emits nothing, and a row whose op is null is dropped. */
  private def scd2Merge(dim: DataFrame, updates: DataFrame, bk: Seq[String],
      tracked: Seq[String], effectiveDate: String,
      opCol: Option[String]): DataFrame = {
    val attrs = dim.columns.filterNot(Meta.contains).toSeq
    val eff = dateOf(effectiveDate)
    val hist = dim.filter(col("est_actif") === 0)
    val cur = dim.filter(col("est_actif") === 1).alias("d")
    val u = opCol.fold(updates)(op => updates.filter(col(op).isNotNull))
      .alias("u")
    val j = cur.join(u, bkCond("d", "u", bk), "full_outer")
    val matched = bk.map(k => col(s"d.$k").isNotNull).reduce(_ && _) &&
      bk.map(k => col(s"u.$k").isNotNull).reduce(_ && _)
    val changed = matched && changedCond("d", "u", tracked)
    val newOnly = bk.map(k => col(s"d.$k").isNull).reduce(_ && _)

    // ONE pass over the full-outer join (r18; guide §2.4/§7.2 —
    // duplicated subtrees): the pre-r18 shape filtered `j` into FOUR
    // union branches (unchanged / closed / new-version / brand-new), so
    // Catalyst executed the join subtree four times per merge — and a
    // CHAINED merge (m_scd2_cdc runs two rounds; a streaming sink runs
    // one per batch over the previous batch's output) re-executed the
    // whole previous round inside each branch. Each joined row instead
    // emits its 0–2 output rows from a single projection via explode:
    //   matched delete     → the closed old version (CDC only),
    //   unmatched delete   → nothing (a null array explodes to no row),
    //   matched+changed    → the closed old version + the new version,
    //   matched+unchanged
    //     or dim-only      → the current row as-is,
    //   update-only        → version 1.
    // Branch order in the when-chain puts the delete cases first, then
    // the two-row case; the conditions are mutually exclusive and
    // exhaustive over full-outer rows, so the emitted row set is exactly
    // the old union's. Measured (isolated sf0.1, matched calibration):
    // m_scd2_cdc 3.26 → 1.27 s, m_scd2_merge 0.53 → 0.40 s
    // (plans/r18/m_scd2_cdc_after.txt).
    def outRow(attrSide: String, version: Column, actif: Column,
        debut: Column, fin: Column): Column =
      struct(attrs.map(c => col(s"$attrSide.$c").as(c)) ++
        Seq(version.as("version"), actif.as("est_actif"),
          debut.as("date_debut_validite"),
          fin.as("date_fin_validite")): _*)
    val dAsIs = outRow("d", col("d.version"), col("d.est_actif"),
      col("d.date_debut_validite"), col("d.date_fin_validite"))
    val dClosed = outRow("d", col("d.version"), lit(0),
      col("d.date_debut_validite"), eff)
    val uNext = outRow("u", col("d.version") + 1, lit(1), eff,
      lit(null).cast("date"))
    val uFirst = outRow("u", lit(1), lit(1), eff, lit(null).cast("date"))
    val upsert = opCol match {
      case None => when(changed, array(dClosed, uNext))
      case Some(op) =>
        val del = col(s"u.$op") === "D"
        when(del && matched, array(dClosed)).when(del, lit(null))
          .when(changed, array(dClosed, uNext))
    }
    val emitted = j.select(explode(
        upsert.when(newOnly, array(uFirst)).otherwise(array(dAsIs))).as("__r"))
      .select(col("__r.*"))
    hist.select((attrs ++ Meta).map(col): _*)
      .unionByName(emitted)
  }

  /** SCD Type 3: keep the previous value in a companion column
    * (`ancien_<col>`) and stamp the change date. Single tracked column,
    * as in the reference (`dim_demographie.ancien_pcs_libelle`). */
  def scd3(dim: DataFrame, updates: DataFrame, bk: Seq[String],
      tracked: String, effectiveDate: String): DataFrame = {
    val d = dim.alias("d")
    val u = updates.alias("u")
    val joined = d.join(u, bkCond("d", "u", bk), "left")
    val changed = !(col(s"d.$tracked") <=> col(s"u.$tracked")) &&
      col(s"u.$tracked").isNotNull
    val attrs = dim.columns.toSeq
    joined.select(
      attrs.map {
        case c if c == tracked =>
          when(changed, col(s"u.$c")).otherwise(col(s"d.$c")).as(c)
        case c => col(s"d.$c").as(c)
      } ++ Seq(
        when(changed, col(s"d.$tracked")).otherwise(lit(null).cast("string"))
          .as(s"ancien_$tracked"),
        when(changed, lit(effectiveDate).cast("date"))
          .otherwise(lit(null).cast("date")).as("date_changement")): _*)
  }

  /** Current view of an SCD2 dimension. */
  def current(dim: DataFrame): DataFrame = dim.filter(col("est_actif") === 1)

  /** Point-in-time view of an SCD2 dimension. */
  def asOf(dim: DataFrame, date: String): DataFrame = {
    val dt = lit(date).cast("date")
    dim.filter(col("date_debut_validite") <= dt &&
      (col("date_fin_validite").isNull || col("date_fin_validite") > dt))
  }

  /** CDC apply — replays a change feed (insert / update / delete rows
    * with a monotone sequence) onto a base snapshot: the LATEST change
    * per key wins (one window over the feed, which is change-sized, not
    * base-sized), then one left-anti join drops every changed key from
    * the base and the surviving upserts union back in. Hard deletes —
    * the one merge shape SCD1/2/3 never perform — fall out of the same
    * pass: a key whose last change is 'D' simply never rejoins.
    * Change columns must match the base schema plus (`seqCol`,
    * `opCol` ∈ {'I','U','D'}). */
  def applyCdc(base: DataFrame, changes: DataFrame, bk: Seq[String],
      seqCol: String, opCol: String = "op"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bk.map(col): _*).orderBy(col(seqCol).desc)
    val latest = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    base.join(latest.select(bk.map(col): _*), bk, "left_anti")
      .unionByName(latest.filter(col(opCol) =!= "D").drop(opCol, seqCol))
  }

  /** SCD2 MERGE of a CDC feed (insert/update/delete rows with a monotone
    * `seqCol`): the latest change per key wins ([[applyCdc]]'s window —
    * change-sized, never base-sized), and that one latest row per key
    * runs through [[scd2]]'s single full-outer pass: upserts
    * close-and-append, and hard deletes — which plain SCD2 never sees —
    * CLOSE the key's current version without opening a successor, so the
    * dimension keeps full history and the key simply has no active row
    * afterwards. A key whose latest change has a null op is left as it
    * is. Re-inserting a previously deleted key starts a fresh
    * version chain at 1: validity intervals stay disjoint ([[asOf]] and
    * [[pitJoin]] read correctly), only the version NUMBER repeats —
    * documented honestly; the reference's batch MERGE
    * (`Terraform/sql/010_scd_dimensions.sql:391-521`) has no delete
    * branch at all, so there is no reference semantic to diverge from.
    * `changes` carries the dim's attribute columns plus (`seqCol`,
    * `opCol` ∈ {'I','U','D'}). */
  def scd2Cdc(dim: DataFrame, changes: DataFrame, bk: Seq[String],
      tracked: Seq[String], seqCol: String, opCol: String,
      effectiveDate: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bk.map(col): _*).orderBy(col(seqCol).desc)
    val latest = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", seqCol)
    scd2Merge(dim, latest, bk, tracked, effectiveDate, Some(opCol))
  }

  /** EVENT-TIME SCD2 merge of a CDC feed — each change row carries its
    * OWN effective date (`effDateCol`), and a change arriving out of
    * order SPLICES the key's existing version chain at that date instead
    * of stacking on the end. [[scd2Cdc]] is the batch-time form (one
    * effective date per run — the reference MERGE's single
    * @date_chargement, `Terraform/sql/010_scd_dimensions.sql:391-521`);
    * this is the extension a late-arriving change stream needs, where
    * "the feed is sorted by event time" stops being true.
    *
    * Semantics — per business key, the key's timeline is REBUILT from
    * two event sources and re-segmented:
    *
    *  - its existing versions: an attribute event at each
    *    `date_debut_validite`, plus a delete event at any
    *    `date_fin_validite` no successor starts at (the only way
    *    [[scd2Cdc]] closes a version without opening one);
    *  - the feed's change rows at their own effective dates.
    *
    * Events on the same date collapse to one — feed rows beat existing
    * versions, then higher `seqCol` wins, then a delete outranks the
    * version it closed (so a version inserted and deleted the same date
    * leaves no trace; [[asOf]] could never observe it anyway). No-op
    * events — tracked attributes unchanged vs the timeline predecessor,
    * or a delete with nothing open — are dropped without bumping
    * versions, mirroring [[scd2]]. Version numbers restart at 1 after a
    * delete ([[scd2Cdc]]'s fresh-chain rule) and are renumbered IN
    * EVENT-TIME ORDER: an out-of-order insert renumbers the key's chain
    * as if the change had arrived in order — which is the point.
    *
    * Scale shape: one semi + one anti join split the dimension into
    * touched and untouched keys — untouched rows pass through
    * BIT-IDENTICAL and never enter a window; the rebuild is window work
    * over (business key) on the touched slice only (events per key are
    * few and bounded — version counts, not fact counts). Nothing is
    * collected. A null or uncastable effective date raises loudly (feed
    * contract violation), never a silent drop. */
  def scd2CdcEventTime(dim: DataFrame, changes: DataFrame, bk: Seq[String],
      tracked: Seq[String], seqCol: String, opCol: String,
      effDateCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val attrs = dim.columns.filterNot(Meta.contains).toSeq
    val effGuarded = when(col(effDateCol).cast("date").isNull,
      raise_error(concat(
        lit(s"scd2CdcEventTime: null or uncastable $effDateCol for key ("),
        concat_ws(",", bk.map(k => col(k).cast("string")): _*), lit(")")))
        .cast("date"))
      .otherwise(col(effDateCol).cast("date"))
    val chgEvents = changes.select(
      attrs.map(col) ++ Seq(
        col(opCol).as("__op"), effGuarded.as("__eff"),
        lit(1).as("__arr"), col(seqCol).cast("long").as("__seq"),
        when(col(opCol) === "D", 1).otherwise(0).as("__dpri")): _*)
    // keys is referenced by both the semi and the anti join, and
    // `touched` by three event derivations below — materialize both once
    // (r18; duplicated-subtree discipline, guide §7.2): keys is
    // change-grain distinct, touched is the change-keyed dim slice the
    // semi/anti contract already bounds (versions per touched key, never
    // dim-grain). Without this the dim subtree executed four times
    // (3× semi + 1× anti) and the changes subtree twice. The untouched
    // side stays lazy: it is dim-sized, referenced once, and passes
    // through bit-identical.
    val keys = changes.select(bk.map(col): _*).distinct().localCheckpoint()
    val touched = dim.join(keys, bk, "left_semi").localCheckpoint()
    val untouched = dim.join(keys, bk, "left_anti")
    val attrEvents = touched.select(
      attrs.map(col) ++ Seq(lit("U").as("__op"),
        col("date_debut_validite").as("__eff"), lit(0).as("__arr"),
        col("version").cast("long").as("__seq"), lit(0).as("__dpri")): _*)
    // versions closed where no successor starts were closed by a DELETE:
    // re-derive it ((bk, fin) ∉ the key's start set)
    val starts = touched.select(
      bk.map(col) :+ col("date_debut_validite").as("date_fin_validite"): _*)
      .distinct()
    val delEvents = touched
      .filter(col("est_actif") === 0 && col("date_fin_validite").isNotNull)
      .join(starts, bk :+ "date_fin_validite", "left_anti")
      .select(attrs.map(col) ++ Seq(lit("D").as("__op"),
        col("date_fin_validite").as("__eff"), lit(0).as("__arr"),
        col("version").cast("long").as("__seq"), lit(1).as("__dpri")): _*)
    val events = chgEvents.unionByName(attrEvents).unionByName(delEvents)
    // one event per (key, date): feed beats dim, then seq, delete last-
    // written wins over the version it closed
    val wDate = Window.partitionBy((bk :+ "__eff").map(col): _*)
      .orderBy(col("__arr").desc, col("__seq").desc, col("__dpri").desc)
    val oneADay = events.withColumn("__rn", row_number().over(wDate))
      .filter(col("__rn") === 1).drop("__rn")
    // no-op suppression against the TIMELINE predecessor. Comparing to
    // the immediate (pre-filter) predecessor is equivalent to comparing
    // to the last KEPT event: a dropped attribute event has, by
    // definition, the same tracked values as its own predecessor, and a
    // dropped delete leaves prev_op = 'D' for the row after it.
    val wTime = Window.partitionBy(bk.map(col): _*).orderBy(col("__eff"))
    val changedVsPrev = tracked
      .map(c => !(col(c) <=> lag(col(c), 1).over(wTime))).reduce(_ || _)
    val kept = oneADay
      .withColumn("__prev_op", lag(col("__op"), 1).over(wTime))
      .withColumn("__chg", changedVsPrev)
      .filter(when(col("__op") === "D",
          col("__prev_op").isNotNull && col("__prev_op") =!= "D")
        .otherwise(col("__prev_op").isNull || col("__prev_op") === "D" ||
          col("__chg")))
      .drop("__prev_op", "__chg")
    // re-segment: every surviving event closes its predecessor; deletes
    // emit no row but split version chains
    val wKept = Window.partitionBy(bk.map(col): _*).orderBy(col("__eff"))
    val rebuilt = kept
      .withColumn("__chain",
        sum(when(col("__op") === "D", 1).otherwise(0)).over(wKept))
      .withColumn("__next_eff", lead(col("__eff"), 1).over(wKept))
      .filter(col("__op") =!= "D")
      .withColumn("version", row_number().over(
        Window.partitionBy((bk :+ "__chain").map(col): _*)
          .orderBy(col("__eff"))))
      .withColumn("est_actif",
        when(col("__next_eff").isNull, lit(1)).otherwise(lit(0)))
      .withColumn("date_debut_validite", col("__eff"))
      .withColumn("date_fin_validite", col("__next_eff"))
      .select((attrs ++ Meta).map(col): _*)
    untouched.select((attrs ++ Meta).map(col): _*).unionByName(rebuilt)
  }

  /** Point-in-time FACT enrichment (M2's read side): each fact row joins
    * the dimension version whose `[date_debut_validite,
    * date_fin_validite)` interval covers the fact's own date — "which
    * segment was this customer in WHEN they ordered", not "now".
    *
    * Scale shape: this stays an EQUI join on the business key — versions
    * per key are few and bounded, so the interval predicate rides along
    * as a join residual; the shuffle is keyed on the business key, never
    * on time, and broadcast kicks in for dimension-sized right sides.
    * Left join: facts outside every version's validity survive with null
    * dimension columns (the audit case).
    *
    * Interval convention: `[date_debut_validite, date_fin_validite)` —
    * the end EXCLUSIVE, because [[scd2]] closes a version with
    * `date_fin_validite` = the successor's `date_debut_validite` (and
    * [[asOf]] reads it the same way); an inclusive end would match a
    * boundary-dated fact against BOTH versions and double-count it. */
  def pitJoin(fact: DataFrame, dim: DataFrame, bk: Seq[String],
      factDateCol: String): DataFrame = {
    val dimR = bk.foldLeft(dim)((df, k) =>
      df.withColumnRenamed(k, s"__dim_$k"))
    val cond = bk.map(k => col(k) === col(s"__dim_$k")).reduce(_ && _) &&
      col(factDateCol).cast("date") >= col("date_debut_validite") &&
      (col("date_fin_validite").isNull ||
        col(factDateCol).cast("date") < col("date_fin_validite"))
    fact.join(dimR, cond, "left").drop(bk.map(k => s"__dim_$k"): _*)
  }
}
