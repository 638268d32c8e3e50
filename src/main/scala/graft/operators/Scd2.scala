package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD type-2 merge — the daily CDC upsert of a warehouse dimension.
  *
  * Given a versioned history table (key, attrs, valid_from, valid_to,
  * is_current) and an update batch (key, attrs, effective timestamp),
  * produce the new history: changed keys close their current row at the
  * effective time and open a fresh one; brand-new keys insert; updates
  * whose attributes equal the current row are NO-OPS (change detection —
  * a replayed batch merges idempotently); closed history rows pass
  * through untouched.
  *
  * Scale shape: ONE shuffle (the full outer equi-join of the current
  * slice against the batch — broadcast when the batch is small, which is
  * the daily-CDC norm); the already-closed history — the bulk of a
  * 100 TB dimension — is a pass-through union that never shuffles. Each
  * joined row then EXPLODES into its output rows (as-is, or close+open)
  * in one narrow projection, so the join is computed once — no
  * self-union of two projections re-running the exchange. On a real
  * cluster history would be bucketed by key so the merge join is
  * co-located; the logical shape here is exactly that plan's input.
  */
object Scd2 {

  /** @param history  cols: key ++ attrs ++ (validFrom, validTo: nullable,
    *                 isCurrent: boolean)
    * @param updates  cols: key ++ attrs ++ effCol (effective timestamp)
    */
  def merge(history: DataFrame, updates: DataFrame, key: Seq[String],
            attrCols: Seq[String], effCol: String,
            validFrom: String = "valid_from", validTo: String = "valid_to",
            isCurrent: String = "is_current"): DataFrame = {
    val outCols = key ++ attrCols ++ Seq(validFrom, validTo, isCurrent)
    val closed = history.filter(!col(isCurrent)).select(outCols.map(col): _*)
    val cur = history.filter(col(isCurrent))

    val joinCond = key.map(k => col(s"c.$k") <=> col(s"u.$k"))
      .reduce(_ && _)
    val j = cur.as("c").join(updates.as("u"), joinCond, "full_outer")

    val isNew = key.map(k => col(s"c.$k").isNull).reduce(_ && _)
    // a current row with NO batch match sees all-NULL u.* — the attr
    // null-safe-inequality would read as "differs", so gate on a match
    val hasUpd = key.map(k => col(s"u.$k").isNotNull).reduce(_ && _)
    val attrsDiffer = attrCols
      .map(a => !(col(s"c.$a") <=> col(s"u.$a")))
      .reduceOption(_ || _).getOrElse(lit(false))
    def row(keys: Seq[Column], attrs: Seq[Column], vf: Column, vt: Column,
            current: Column): Column =
      struct((keys ++ attrs :+ vf :+ vt :+ current).zip(outCols)
        .map { case (c, n) => c.as(n) }: _*)

    val cKeys = key.map(k => col(s"c.$k"))
    val uKeys = key.map(k => col(s"u.$k"))
    val cAttrs = attrCols.map(a => col(s"c.$a"))
    val uAttrs = attrCols.map(a => col(s"u.$a"))
    val eff = col(s"u.$effCol")
    val nullVt = lit(null).cast(history.schema(validTo).dataType)

    val asIs = row(cKeys, cAttrs, col(s"c.$validFrom"), col(s"c.$validTo"),
      col(s"c.$isCurrent"))
    val close = row(cKeys, cAttrs, col(s"c.$validFrom"), eff, lit(false))
    val open = row(uKeys, uAttrs, eff, nullVt, lit(true))

    val versions = when(isNew, array(open))
      .when(hasUpd && attrsDiffer, array(close, open))
      .otherwise(array(asIs))
    val merged = j.select(explode(versions).as("v"))
      .select(outCols.map(c => col(s"v.$c").as(c)): _*)
    closed.unionByName(merged)
  }
}
