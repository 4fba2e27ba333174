package graft.volume

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The region-ontology table (region_ids_ADMBA.csv in the reference:
  * 2,692 rows of Region/RegionAbbr/RegionName/Level/Parent —
  * lookup_test.py:11–14, Screenshots/lookup_test.png). A broadcastable
  * dimension table; the tree lives in the Parent column.
  */
object RegionTable {

  val schema: StructType = StructType(Seq(
    StructField("Region", LongType, nullable = false),
    StructField("RegionAbbr", StringType, nullable = true),
    StructField("RegionName", StringType, nullable = true),
    StructField("Level", IntegerType, nullable = true),
    StructField("Parent", LongType, nullable = true),
  ))

  /** CSV scan with the explicit schema (S6) — no inference pass. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Interactive-id lookup (lookup_by_id.py:24–38): input validation +
    * filter + 3-column projection, formatted like the reference REPL.
    */
  def lookupById(regions: DataFrame, input: String): String =
    if (!input.forall(_.isDigit) || input.isEmpty) s"Invalid input: $input"
    else input.toLongOption match {
      // all digits past Long range: a valid id that names no region
      case None => s"Unknown region ID: $input"
      case Some(id) =>
        regions.filter(col("Region") === id)
          .select(col("RegionName"), col("RegionAbbr"), col("Level"))
          .collect()
          .headOption
          .map(r => s"Region $id: ${r.getString(0)} (${r.getString(1)}), level ${r.getInt(2)}")
          .getOrElse(s"Unknown region ID: $id")
    }

  /** Walk the ontology upward from a region to the root via iterative
    * broadcast self-joins on Parent (the tree is ≤ ~13 levels deep).
    */
  def ancestors(regions: DataFrame, id: Long, maxDepth: Int = 20): Seq[Long] = {
    val parentOf = regions.select(col("Region"), col("Parent"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Seq.newBuilder[Long]
    var cur = id
    var depth = 0
    while (parentOf.contains(cur) && parentOf(cur) != 0 && depth < maxDepth) {
      cur = parentOf(cur)
      out += cur
      depth += 1
    }
    out.result()
  }
}
