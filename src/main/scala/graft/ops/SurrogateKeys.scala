package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.LongType

/** Scalable deterministic surrogate keys (SURVEY.md §7.4.1).
  *
  * `ROW_NUMBER() OVER (ORDER BY …)` with no partition moves every row to
  * ONE partition — fine for dimension tables, fatal for a 100 TB fact.
  * This assigns the identical numbering with a range-repartitioned sort
  * (each partition holds a contiguous key range) + `zipWithIndex` (which
  * runs one lightweight count job over the first N-1 partitions to
  * compute offsets). Rows that tie on the full sort key are bit-identical
  * rows in our fact (the key includes every distinguishing column), so
  * their relative numbering is immaterial.
  *
  * The fact pipeline itself uses composite per-patient keys (no global
  * sort at all, `Stage.factRaw`); this module is the dense-global-number
  * fallback for consumers that genuinely need gap-free ids.
  */
object SurrogateKeys {

  def withGlobalRowNumber(df: DataFrame, keyName: String,
      order: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    // The sorted rows are persisted (Parts.persisted) so zipWithIndex's
    // offset-count job and the numbering pass share one range sort; the
    // blocks keep their lineage and go to the ContextCleaner once the
    // result is unreferenced.
    val (sorted, rows) = Parts.persisted(df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*))
    val schema = sorted.schema.add(keyName, LongType, nullable = false)
    // Stay on InternalRow — boxing 800k+ wide rows through the public Row
    // API costs more than the numbering itself. JoinedRow reuse follows
    // the standard per-partition iterator contract (consumers copy when
    // they buffer).
    val internal = rows.zipWithIndex()
      .mapPartitions { it =>
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        val idxRow = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(1)
        it.map { case (row, idx) =>
          idxRow.setLong(0, idx + 1L)
          joined(row, idxRow)
            : org.apache.spark.sql.catalyst.InternalRow
        }
      }
    org.apache.spark.sql.GraftSqlBridge
      .internalCreateDataFrame(spark, internal, schema)
  }
}
