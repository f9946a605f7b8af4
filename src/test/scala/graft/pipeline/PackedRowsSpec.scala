package graft.pipeline

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.graftbridge.PackedRows
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The packing helper behind `Pipeline.fromSeq`: slice boundaries,
  * variable-width round trips and the array-length limit.
  */
class PackedRowsSpec extends AnyFunSuite {
  private val types: Array[DataType] = Array(LongType, StringType)

  /** `n` (id, text) rows of growing width, through one reused
    * projection as the encoder's serializer reuses its output row.
    */
  private def rows(n: Int): Iterator[UnsafeRow] = {
    val proj = UnsafeProjection.create(types)
    (0 until n).iterator.map { i =>
      val text = if (i % 5 == 0) null else UTF8String.fromString("ü" * (i % 17) + i)
      proj(InternalRow(i.toLong, text))
    }
  }

  private def unpacked(bufs: Array[Array[Byte]]): Seq[Seq[(Long, String)]] =
    bufs.toSeq.map(PackedRows.unpack(_, 2).map { r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getUTF8String(1).toString)
    }.toSeq)

  test("slices cut where ParallelCollectionRDD cuts a Seq, rows round-trip in order") {
    for ((n, slices) <- Seq((0, 1), (1, 1), (3, 3), (10, 4), (1001, 7))) {
      val bufs = PackedRows.pack(rows(n), n, slices)
      assert(bufs.length == slices)
      val expected = rows(n).map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString)).toVector
      val cuts = (0 to slices).map(s => (s.toLong * n / slices).toInt)
      assert(unpacked(bufs) == cuts.zip(cuts.tail).map { case (a, b) => expected.slice(a, b) },
        s"n=$n slices=$slices")
    }
  }

  test("a slice over the array limit throws naming n and the byte count, never a wrapped length") {
    val e = intercept[IllegalArgumentException](PackedRows.pack(rows(100), 100, 2, limit = 512))
    assert(e.getMessage.startsWith("100 rows do not fit"), e.getMessage)
    val bytes = raw"needs at least (\d+) bytes, over the 512-byte limit".r
      .findFirstMatchIn(e.getMessage).map(_.group(1).toLong)
    assert(bytes.exists(_ > 512), e.getMessage)
    intercept[IllegalArgumentException](PackedRows.pack(rows(1), 1, 1, limit = Int.MaxValue.toLong + 1))
  }
}
