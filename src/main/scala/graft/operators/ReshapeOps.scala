package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reshaping operators: concatenate (union), unique (dedup), melt
  * (wide→long), pivot, split, create-class — reference:
  * Orange/data/table.py:1339-1439 (concat), widgets owunique.py,
  * owmelt.py, owpivot.py, owsplit.py, owcreateclass.py.
  */
object ReshapeOps {

  /** Vertical concatenation with domain *union* of columns and an optional
    * source-id indicator (owconcatenate.py:28,64,373; table.py:1339-1414).
    * unionByName(allowMissingColumns) fills absent columns with NULL —
    * Orange's NaN fill. Narrow op: no shuffle. */
  def concatUnion(dfs: Seq[(String, DataFrame)], sourceCol: Option[String]): DataFrame = {
    val tagged = sourceCol match {
      case Some(sc) => dfs.map { case (tag, df) => df.withColumn(sc, lit(tag)) }
      case None     => dfs.map(_._2)
    }
    tagged.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  sealed trait KeepWhich
  object KeepWhich {
    case object First extends KeepWhich;  case object Last extends KeepWhich
    case object Middle extends KeepWhich; case object Random extends KeepWhich
    case object DropDupGroups extends KeepWhich
  }

  /** Unique widget (owunique.py:14-100): group rows by `keys`, keep one
    * occurrence chosen by the tiebreaker, or drop duplicated groups
    * entirely. Orange's "occurrence order" is row order; distributed we
    * require an explicit unique `ord` column (callers pass a natural key).
    * One window over the group keys = one shuffle. */
  def unique(df: DataFrame, keys: Seq[String], ord: Column,
             keep: KeepWhich): DataFrame = {
    val w  = Window.partitionBy(keys.map(col): _*)
    val wa = w.orderBy(ord.asc)
    keep match {
      case KeepWhich.First =>
        df.withColumn("__rn", row_number().over(wa))
          .filter(col("__rn") === 1).drop("__rn")
      case KeepWhich.Last =>
        df.withColumn("__rn", row_number().over(w.orderBy(ord.desc)))
          .filter(col("__rn") === 1).drop("__rn")
      case KeepWhich.Middle =>
        df.withColumn("__rn", row_number().over(wa))
          .withColumn("__n", count(lit(1)).over(w))
          .filter(col("__rn") === (col("__n") + 1) / 2)
          .drop("__rn", "__n")
      case KeepWhich.Random => // seeded: smallest md5 of the order key
        df.withColumn("__rn", row_number().over(w.orderBy(md5(ord.cast("string")))))
          .filter(col("__rn") === 1).drop("__rn")
      case KeepWhich.DropDupGroups =>
        df.withColumn("__n", count(lit(1)).over(w))
          .filter(col("__n") === 1).drop("__n")
    }
  }

  /** Melt / wide→long (owmelt.py:60,200-303): id columns + (item, value)
    * pairs from the selected numeric columns; optionally drop NULLs/zeros.
    * Uses Dataset.unpivot → a Generate node, narrow (no shuffle). */
  def melt(df: DataFrame, ids: Seq[String], values: Seq[String],
           dropNaN: Boolean = true, dropZero: Boolean = false,
           varName: String = "item", valueName: String = "value"): DataFrame = {
    val long = df.unpivot(ids.map(col).toArray, values.map(col).toArray,
      varName, valueName)
    val f1 = if (dropNaN) long.filter(col(valueName).isNotNull) else long
    if (dropZero) f1.filter(col(valueName) =!= 0) else f1
  }

  /** Pivot (owpivot.py:55-460): group by row-var, spread col-var values
    * into columns, aggregate. Column values must be supplied for a stable
    * schema at scale (Orange enumerates them too — discrete vars carry
    * their value list). One shuffle on the row-var. */
  def pivot(df: DataFrame, rowVar: String, colVar: String,
            colValues: Seq[String], agg: Column): DataFrame =
    df.groupBy(col(rowVar)).pivot(colVar, colValues).agg(agg)

  /** Pivot with grand/row totals via rollup (owpivot.py totals). Group
    * keys are COALESCE'd to a label so the output carries no NULL keys. */
  def pivotTotals(df: DataFrame, rowVar: String, colVar: String,
                  agg: Column, aggName: String,
                  totalLabel: String = "TOTAL"): DataFrame =
    df.rollup(col(rowVar), col(colVar)).agg(agg.as(aggName))
      .select(coalesce(col(rowVar), lit(totalLabel)).as(rowVar),
              coalesce(col(colVar), lit(totalLabel)).as(colVar),
              col(aggName))

  /** Split (owsplit.py:25-123): explode a delimited string column into
    * one row per token (the long-form equivalent of Orange's indicator
    * columns; `pivot` turns it wide when the vocabulary is known). */
  def splitExplode(df: DataFrame, column: String, delim: String,
                   tokenName: String = "token"): DataFrame =
    df.withColumn(tokenName, explode(split(col(column), delim)))

  /** Create Class (owcreateclass.py:24-86 map_by_substring): first-match
    * substring → label over a string column; NULL (Orange: last label /
    * unknown) when nothing matches. Lowers to one chained CASE WHEN. */
  def createClass(c: Column, mapping: Seq[(String, String)],
                  caseSensitive: Boolean = false): Column = {
    val base = if (caseSensitive) c else lower(c)
    mapping.reverse.foldLeft(lit(null).cast("string")) {
      case (els, (substr, label)) =>
        val s = if (caseSensitive) substr else substr.toLowerCase
        when(base.contains(s), label).otherwise(els)
    }
  }

  /** Row-wise aggregate across columns (owaggregatecolumns.py:32-230):
    * Sum/Min/Max across selected columns within a row — pure scalar
    * expressions, codegen'd, no shuffle. */
  object RowWise {
    def sumCols(cs: Seq[Column]): Column  = cs.reduce(_ + _)
    def minCols(cs: Seq[Column]): Column  = least(cs: _*)
    def maxCols(cs: Seq[Column]): Column  = greatest(cs: _*)
  }
}
