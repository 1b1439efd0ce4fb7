package graft.core

/** The primary-key catalog row, mirroring the reference's namedtuple
  * (SURVEY.md §1.2; reference slot.py:14) as a case class.
  *
  * Deviation from the reference's change record: `xid` is LongType
  * end-to-end. The reference keeps it a string in test_decoding mode
  * and an int in wal2json mode; a single numeric type is strictly more
  * useful and the formatters render it identically.
  */
case class PrimaryKeyMapItem(
    table_name: String, col_name: String, col_type: String,
    col_ord_pos: Int)
