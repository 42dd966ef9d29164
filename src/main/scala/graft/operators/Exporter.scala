package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol

/** Reverse pipeline: populate relations, flatten nested structures to
  * dot-notation columns, serialize to CSV.
  *
  * Ports `exportCsv` (reference: server/controllers/csv-import.js:300-466):
  *   - N4 component flatten (:353-378): single component ⇒ `field.key`
  *     columns; repeatable ⇒ `field.{i}.key` (1-based); scalars only,
  *     `id`/`__component` dropped; source column removed.
  *   - N5 relation flatten (:379-417): relation replaced by
  *     `field.<displayAttr>` where displayAttr is the target's first schema
  *     attribute (name/title/displayName/id fallback, :391, :409); arrays ⇒
  *     values joined with ", " (:401).
  *   - P8 audit-column drop (:421-423): createdAt/updatedAt/publishedAt/`__*`.
  *   - L3 export cap: `limit 1000` (:342) — deterministic here (caller
  *     orders first).
  *   - S10 CSV sink (:429-451): Spark's writer already RFC-quotes.
  */
object Exporter {

  val auditColumns: Seq[String] = Seq("createdAt", "updatedAt", "publishedAt")

  /** Drop audit + `__*` columns (P8). */
  def dropAudit(df: DataFrame): DataFrame = {
    val drops = df.columns.filter(c => c.startsWith("__") || auditColumns.contains(c))
    df.drop(drops: _*)
  }

  /** N4: flatten a single-component struct column into `field.key` columns. */
  def flattenSingleComponent(df: DataFrame, field: String): DataFrame = {
    val st = df.schema(field).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val keys = st.fieldNames.filter(k => k != "id" && !k.startsWith("__"))
    val cols = df.columns.filterNot(_ == field).map(qcol) ++
      keys.map(k => qcol(field).getField(k).as(s"$field.$k"))
    df.select(cols: _*)
  }

  /** N4: flatten a repeatable component (array of structs) into
    * `field.{i}.key` columns, i = 1..maxItems (reference is 1-based).
    * `maxItems` must be supplied (compute once via `maxArraySize`) so the
    * projection stays plan-time static. Rows with fewer items leave the
    * missing slots null: `try_element_at`, because `element_at` throws
    * on an out-of-range index under ANSI.
    */
  def flattenRepeatableComponent(df: DataFrame, field: String, maxItems: Int): DataFrame = {
    val at = df.schema(field).dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
    val st = at.elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val keys = st.fieldNames.filter(k => k != "id" && !k.startsWith("__"))
    val cols = df.columns.filterNot(_ == field).map(qcol) ++
      (1 to maxItems).flatMap(i =>
        keys.map(k => try_element_at(qcol(field), lit(i)).getField(k)
          .as(s"$field.$i.$k")))
    df.select(cols: _*)
  }

  /** One extra aggregate to size the repeatable flatten. */
  def maxArraySize(df: DataFrame, field: String): Int = {
    val r = df.agg(max(size(qcol(field)))).head()
    if (r.isNullAt(0)) 0 else math.max(r.getInt(0), 0)
  }

  /** N5 scalar: replace a relation id column with `field.<displayAttr>` from
    * the broadcast target.
    */
  def populateRelation(
      df: DataFrame,
      field: String,
      target: DataFrame,
      targetIdCol: String,
      displayCol: String,
  ): DataFrame = {
    val tgt = target.select(qcol(targetIdCol).cast("long").as("__pid"),
      qcol(displayCol).as(s"$field.$displayCol"))
    df.join(broadcast(tgt), qcol(field).cast("long") === col("__pid"), "left")
      .drop("__pid").drop(field)
  }

  /** N5 multi: replace an id-array relation column with the comma-joined
    * display values (", " separator, reference :401), in id-array order.
    *
    * One linear explode→join→groupBy→first() chain: all original columns
    * are carried through the explode and restored with `first()` after the
    * regroup. Never a row-key join-back — `monotonically_increasing_id` is
    * not branch-stable under AQE, so it is only ever used as a grouping key
    * inside this single plan, and the original row is reconstructed from
    * the carried struct, not re-joined.
    */
  def populateMultiRelation(
      df: DataFrame,
      field: String,
      target: DataFrame,
      targetIdCol: String,
      displayCol: String,
  ): DataFrame = {
    val RowKey = "__ex_key"
    val outCol = s"$field.$displayCol"
    val originals = df.columns.filterNot(_ == field)
    val tgt = target.select(qcol(targetIdCol).cast("long").as("__pid"),
      qcol(displayCol).cast("string").as("__pval"))
    df.withColumn(RowKey, monotonically_increasing_id())
      .select(col(RowKey) +: originals.map(qcol) :+
        posexplode_outer(qcol(field)).as(Seq("__pos", "__id")): _*)
      .join(broadcast(tgt), col("__id") === col("__pid"), "left")
      .groupBy(col(RowKey))
      .agg(
        first(struct(originals.map(qcol): _*)).as("__orig"),
        array_join(transform(array_sort(collect_list(
          struct(col("__pos"), col("__pval")))), e => e("__pval")), ", ")
          .as("__joined"))
      .select(originals.map(c => col("__orig").getField(c).as(c)) :+
        col("__joined").as(outCol): _*)
  }

  /** S10: CSV serialization with header + RFC quoting. Spark's default
    * escape is backslash; the reference doubles quotes
    * (createCsvContent, reference controllers/csv-import.js:442-445) —
    * escape='"' reproduces that.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", true).option("escape", "\"").csv(path)
}
