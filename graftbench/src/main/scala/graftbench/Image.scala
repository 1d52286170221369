package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a row set: count, xor and low-32-bit sum
  * of each row's `xxhash64` over all columns. */
final case class Sum(count: Long, xor: Long, low: Long) {
  def +(h: Long): Sum = Sum(count + 1, xor ^ h, low + (h & 0xffffffffL))
  def -(h: Long): Sum = Sum(count - 1, xor ^ h, low - (h & 0xffffffffL))
}

object Sum {
  val empty: Sum = Sum(0, 0, 0)

  /** The same fingerprint computed by Spark over a table read. */
  def of(df: DataFrame, schema: StructType): Sum = {
    val h = xxhash64(schema.fieldNames.map(col).toSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L))).head()
    Sum(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/**
 * The expected primary-key table, kept in driver memory with no graft code:
 * rows come from the source parquet through plain Spark, upserts replace by
 * key and deletes drop key ranges. Its fingerprint is maintained
 * incrementally, so recording the expected state of every snapshot is
 * O(rows changed).
 */
final class Image(schema: StructType, key: String) {
  private val keyIdx = schema.fieldIndex(key)
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
  private val hasher = XxHash64(schema.fields.toSeq.zipWithIndex.map {
    case (f, i) => BoundReference(i, f.dataType, f.nullable)
  }, 42L) // the seed of Spark's `xxhash64` function
  private val rows = mutable.HashMap.empty[Long, (Row, Long)]
  private var total = Sum.empty

  def hash(r: Row): Long =
    hasher.eval(toCatalyst(r).asInstanceOf[InternalRow]).asInstanceOf[Long]

  def sum: Sum = total
  def size: Int = rows.size
  def get(k: Long): Option[Row] = rows.get(k).map(_._1)
  def keys: Iterable[Long] = rows.keys
  def values: Iterable[Row] = rows.values.map(_._1)

  def upsert(batch: Seq[Row]): Unit = batch.foreach { r =>
    val k = r.getLong(keyIdx)
    val h = hash(r)
    rows.put(k, (r, h)).foreach { case (_, old) => total = total - old }
    total = total + h
  }

  def delete(lo: Long, hi: Long): Unit = {
    val gone = rows.keys.filter(k => k >= lo && k <= hi).toSeq
    gone.foreach(k => rows.remove(k).foreach { case (_, h) => total = total - h })
  }

  /** Deliberately wrong expectation (self-test only): drops one row. */
  def corrupt(): Unit = rows.headOption.foreach { case (k, _) => delete(k, k) }

  def fingerprint(batch: Seq[Row]): Sum = batch.foldLeft(Sum.empty)((s, r) => s + hash(r))
}
