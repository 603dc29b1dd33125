package graft.data

import org.apache.spark.sql.DataFrame

/** Names for an operator's internal working columns that cannot collide with
  * its caller's. Each base name gets the first `_<n>` suffix that no column of
  * `df` and no earlier name carries, compared case-insensitively as Spark
  * resolves names by default, so `withColumn` never overwrites a caller's
  * column and the closing `drop` never removes one. */
object WorkingColumns {
  def apply(df: DataFrame, bases: String*): Seq[String] = {
    val taken = scala.collection.mutable.Set(df.columns.toSeq.map(_.toLowerCase): _*)
    bases.map { base =>
      val name = (Iterator(base) ++ Iterator.from(1).map(i => s"${base}_$i")).find(n => !taken(n.toLowerCase)).get
      taken += name.toLowerCase
      name
    }
  }

  /** Requires that `df` carries none of the output columns `names` that
    * operator `op` adds, compared case-insensitively as above: `op` would
    * otherwise overwrite the caller's column with its own. */
  def requireAbsent(df: DataFrame, op: String, names: String*): Unit = {
    val taken = names.filter(n => df.columns.exists(_.equalsIgnoreCase(n)))
    require(taken.isEmpty, s"$op adds the column(s) ${taken.mkString(", ")}, which its input already has")
  }
}
