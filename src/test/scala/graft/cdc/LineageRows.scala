package graft.cdc

import org.apache.spark.sql.SparkSession

/** Test view of a table's lineage ledger. */
object LineageRows {

  /** epochId → number of ledger rows; empty when the table has no ledger. */
  def of(spark: SparkSession, tableDir: String): Map[String, Long] =
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(tableDir, "_lineage"))) Map.empty
    else Lineage.read(spark, tableDir).groupBy("epochId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}
