package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Row-level scalar conversions — the Spark form of the reference's
  * `convert_value` hook and COPY encoders (reference:
  * migrate_v3.py:250-280, 617-631, 782-801). All pure `Column`
  * expressions → whole-stage-codegen'd, no UDFs.
  */
object Conversions {

  /** F1: bit(1)/bytes → boolean: any byte string other than a single zero
    * byte is true (reference: migrate_v3.py:256-261 `value != b'\x00'`).
    */
  def bitBytesToBool(c: Column): Column =
    when(c.isNull, lit(null).cast("boolean"))
      .otherwise(c =!= lit(Array[Byte](0.toByte)))

  /** F2: tinyint(1) integer → boolean (reference: migrate_v3.py:264-265). */
  def tinyintToBool(c: Column): Column =
    when(c.isNull, lit(null).cast("boolean")).otherwise(c =!= lit(0))

  /** F3: MySQL zero-dates `0000-00-00*` → NULL (reference:
    * migrate_v3.py:268-270). Works on a string-typed raw column; a value
    * that parses stays as-is.
    */
  def zeroDateToNull(c: Column): Column =
    // type-preserving: the otherwise branch is the input column itself, so a
    // date/timestamp column stays typed (a parsed date can never be the MySQL
    // zero date — the predicate only fires on raw string payloads)
    when(c.cast("string").startsWith("0000-00-00"), lit(null))
      .otherwise(c)

  /** F4: strip NUL (\x00) characters from strings — Postgres cannot store
    * them (reference: migrate_v3.py:273-278).
    */
  def stripNul(c: Column): Column = regexp_replace(c, "\u0000", "")

  /** F5: bytes → Postgres COPY hex encoding `\x<hex>` (reference:
    * migrate_v3.py:625,791). Only needed for byte-exact pg-COPY parity.
    */
  def bytesToPgHex(c: Column): Column = concat(lit("\\x"), lower(hex(c)))

  /** F6: boolean → COPY text `t`/`f` (reference: migrate_v3.py:623,788). */
  def boolToPgText(c: Column): Column =
    when(c.isNull, lit("\\N")).otherwise(when(c, lit("t")).otherwise(lit("f")))

  /** F7: COPY escape of backslash and control chars \n \r \t (reference:
    * migrate_v3.py:627,794). Backslash must be escaped first.
    */
  def copyEscape(c: Column): Column = {
    // Java regex replacement strings process backslash escapes: the
    // 3-char replacement `\\n` emits the 2-char sequence `\n`.
    val noBackslash = regexp_replace(c, """\\""", """\\\\""")
    val noNl = regexp_replace(noBackslash, "\n", """\\n""")
    val noCr = regexp_replace(noNl, "\r", """\\r""")
    regexp_replace(noCr, "\t", """\\t""")
  }

  /** P8: lowercase all column names (reference: migrate_v3.py:396,590). */
  def lowercaseColumns(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(_.toLowerCase): _*)
}
