package graft.core

import org.apache.spark.sql.types._

/** Core record types of the CDC dataflow, mirroring the reference's
  * namedtuples (SURVEY.md §1.2; reference formatter.py:12-17,
  * slot.py:14) as case classes / StructTypes.
  *
  * Deviation from the reference: `xid` is LongType end-to-end. The
  * reference keeps it a string in test_decoding mode and an int in
  * wal2json mode; a single numeric type is strictly more useful and
  * the formatters render it identically.
  */
case class Change(xid: Long, table: String, operation: String, pkey: String)

case class PrimaryKeyMapItem(
    table_name: String, col_name: String, col_type: String,
    col_ord_pos: Int)

object Model {
  val changeSchema: StructType = StructType(Seq(
    StructField("xid", LongType),
    StructField("table", StringType),
    StructField("operation", StringType),
    StructField("pkey", StringType)))
}
