package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructType}
import graft.engine.DeviationStore

/** Outcome of one output check; `failedOps` is how many timed operations
  * produced the checked output, and so count as failed when it is wrong. */
final case class Check(name: String, ok: Boolean, detail: String, failedOps: Int)

object Checks {

  /** Deviation columns that a sync must carry over from the emitted frame.
    * `center` and `municipality_code` are left out on purpose: the reference
    * computes them on insert and keeps them on update, so an element that
    * moved keeps its first center in an incrementally maintained store. */
  val DeviationCols: Seq[String] =
    DeviationStore.keyCols ++ Seq("suggested_geom", "suggested_tags", "description", "note")

  /** Order-independent multiset digest: (rows, sum of 64-bit row hashes).
    * Map columns are hashed through their key-sorted entries. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.select(cols.map(c => canonical(df.schema, c)): _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  private def canonical(schema: StructType, c: String): Column = schema(c).dataType match {
    case _: MapType => to_json(array_sort(map_entries(col(c)))).as(c)
    case _          => col(c)
  }

  /** `actual` holds exactly the rows of `expected`, over `cols`. */
  def sameRows(name: String, actual: DataFrame, expected: DataFrame, cols: Seq[String],
               failedOps: Int): Check = {
    val (an, ah) = digest(actual, cols)
    val (en, eh) = digest(expected, cols)
    val ok = an == en && ah == eh
    Check(name, ok, if (ok) s"$an rows" else s"$an rows (digest $ah) vs expected $en rows (digest $eh)",
      failedOps)
  }

  def equal(name: String, actual: Long, expected: Long, failedOps: Int): Check =
    Check(name, actual == expected, s"$actual vs expected $expected", failedOps)
}
