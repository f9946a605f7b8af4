package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.unsafe.{Platform, UnsafeAlignedOffset}
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Encoded rows packed into one byte array per partition, so a task
  * carries one bulk `byte[]` instead of an `Externalizable` object
  * per row. Each row is its `UnsafeRow` bytes behind a length prefix
  * of `UnsafeAlignedOffset` width — the record layout of Spark's own
  * sorter pages, which keeps the row bytes word-aligned on platforms
  * that need it.
  */
object PackedRows {

  /** The longest byte array the JVM allocates. */
  val MaxBytes: Long = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH

  /** The `n` rows cut into `slices` arrays where `ParallelCollectionRDD`
    * cuts a Seq of length `n` (slice `s` holds rows `s·n/slices` until
    * `(s+1)·n/slices`), in order. Each row is copied as it arrives, so
    * `rows` may reuse one row object. A slice whose bytes would pass
    * `limit` throws `IllegalArgumentException` naming `n` and the byte
    * count (sizes are summed as `Long`, so they never wrap).
    */
  def pack(rows: Iterator[UnsafeRow], n: Int, slices: Int,
           limit: Long = MaxBytes): Array[Array[Byte]] = {
    require(limit <= MaxBytes, s"limit $limit is over the JVM's $MaxBytes-byte array limit")
    val uao = UnsafeAlignedOffset.getUaoSize
    var buf = new Array[Byte](64)
    Array.tabulate(slices) { s =>
      var len = 0L
      var i = (s.toLong * n / slices).toInt
      val end = ((s + 1).toLong * n / slices).toInt
      while (i < end) {
        val row = rows.next()
        val size = row.getSizeInBytes
        val need = len + uao + size
        if (need > limit) throw new IllegalArgumentException(
          s"$n rows do not fit one byte array per partition: partition $s of $slices " +
            s"needs at least $need bytes, over the $limit-byte limit")
        if (need > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.min(math.max(need, 2L * buf.length), limit).toInt)
        UnsafeAlignedOffset.putSize(buf, Platform.BYTE_ARRAY_OFFSET + len, size)
        row.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len + uao)
        len = need
        i += 1
      }
      java.util.Arrays.copyOf(buf, len.toInt)
    }
  }

  /** The rows of one packed array, in order, as one `UnsafeRow` of
    * `numFields` fields pointed at each in turn (no per-row copy).
    */
  def unpack(buf: Array[Byte], numFields: Int): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val uao = UnsafeAlignedOffset.getUaoSize
    private val row = new UnsafeRow(numFields)
    private var at = Platform.BYTE_ARRAY_OFFSET.toLong
    private val end = at + buf.length
    def hasNext: Boolean = at < end
    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of packed rows")
      val size = UnsafeAlignedOffset.getSize(buf, at)
      row.pointTo(buf, at + uao, size)
      at += uao + size
      row
    }
  }
}
