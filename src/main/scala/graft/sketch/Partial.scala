package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.types._
import org.apache.spark.sql.types.{DataType, Decimal}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Partial buffer of a raw-input build aggregate ([[PartialBuildAgg]]).
  *
  * It starts raw: the non-null input values, in arrival order, in one
  * primitive lane. Past [[Partial.Capacity]] values, or once a
  * library-format partial merges in, it becomes the library sketch those
  * values build (`sketch` non-null, lanes dropped). Most map-side partials
  * of a many-group aggregate hold a handful of values, and a raw partial
  * costs a small array where the sketch costs kilobytes to create,
  * serialize, ship and merge.
  */
final class Partial[S <: AnyRef] {
  /** The library sketch; null while the buffer is raw. */
  var sketch: S = _
  /** Number of raw values held. */
  var n: Int = 0
  /** Long-lane values, or the raw bits of double-lane values. */
  var longs: Array[Long] = _
  /** Bytes-lane values (private copies, never written after they are added). */
  var blobs: Array[Array[Byte]] = _

  private def room(more: Int): Int = math.min(Partial.Capacity, math.max(8, math.max(n + more, 2 * n)))

  def addLong(l: Long): Unit = {
    if (longs == null) longs = new Array[Long](room(1))
    else if (n == longs.length) longs = java.util.Arrays.copyOf(longs, room(1))
    longs(n) = l
    n += 1
  }

  def addBytes(b: Array[Byte]): Unit = {
    if (blobs == null) blobs = new Array[Array[Byte]](room(1))
    else if (n == blobs.length) blobs = java.util.Arrays.copyOf(blobs, room(1))
    blobs(n) = b
    n += 1
  }

  /** Appends another raw buffer's values; the caller keeps n within capacity. */
  def append(o: Partial[S]): Unit = if (o.n > 0) {
    if (o.longs != null) {
      if (longs == null) longs = new Array[Long](room(o.n))
      else if (n + o.n > longs.length) longs = java.util.Arrays.copyOf(longs, room(o.n))
      System.arraycopy(o.longs, 0, longs, n, o.n)
    } else {
      if (blobs == null) blobs = new Array[Array[Byte]](room(o.n))
      else if (n + o.n > blobs.length) blobs = java.util.Arrays.copyOf(blobs, room(o.n))
      System.arraycopy(o.blobs, 0, blobs, n, o.n)
    }
    n += o.n
  }

  def dropRaw(): Unit = { n = 0; longs = null; blobs = null }
}

object Partial {

  /** Raw values a buffer holds before it becomes the library sketch. The
    * sketch_ingest benchmark measures 12.5 rows per map-task partial on its
    * `wide` shape (20K groups over 4 tasks), which stays raw, and about 3.9K
    * on its `narrow` shape (64 groups), which crosses within its first 64
    * rows and then updates the sketch directly. */
  final val Capacity = 64

  /** First byte of a serialized raw partial. Every DataSketches image
    * starts with its preamble length (in longs or ints, at least 1) in the
    * low six bits of byte 0; this byte's low six bits are 0, so it tells
    * the graft-private form from the library bytes that `deserialize` also
    * takes (state stored before raw partials existed). */
  final val Tag: Byte = 0x80.toByte

  /** Raw lanes. NoLane values go straight to the sketch. */
  final val NoLane = 0
  final val LongLane = 1
  final val DoubleLane = 2
  final val BytesLane = 3

  /** The lane of an input type, by its physical type (the boxed classes
    * `child.eval` returns). */
  def laneOf(dt: DataType): Int = PhysicalDataType(dt) match {
    case PhysicalByteType | PhysicalShortType | PhysicalIntegerType | PhysicalLongType => LongLane
    case PhysicalFloatType | PhysicalDoubleType => DoubleLane
    case _: PhysicalStringType | PhysicalBinaryType => BytesLane
    case _ => NoLane
  }

  /** A long-lane value. DECIMAL(20,0) is the ulong lane's input
    * ([[Kit.ulongBits]]); only the quantile families route it here. */
  def longOf(v: Any): Long = v match {
    case l: Long    => l
    case i: Int     => i.toLong
    case s: Short   => s.toLong
    case b: Byte    => b.toLong
    case d: Decimal => Kit.ulongBits(d)
  }

  def doubleOf(v: Any): Double = v match {
    case d: Double => d
    case f: Float  => f.toDouble
  }

  /** The bytes the library hashes for a string or binary value. The
    * library's String overloads hash `getBytes(UTF_8)` of the string, which
    * for valid UTF-8 is the UTF8String's own bytes; an invalid sequence
    * decodes to U+FFFD first, so it takes the decoded string's bytes. May
    * alias the input, so it is never kept. */
  def keyBytes(v: Any): Array[Byte] = v match {
    case s: UTF8String  => if (s.isValid) s.getBytes else s.toString.getBytes(UTF_8)
    case b: Array[Byte] => b
  }

  /** [[keyBytes]] as a private copy, safe to keep past the input row. */
  def keptBytes(v: Any): Array[Byte] = v match {
    case s: UTF8String =>
      if (s.isValid) {
        val b = new Array[Byte](s.numBytes)
        s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
        b
      } else s.toString.getBytes(UTF_8)
    case b: Array[Byte] => b.clone()
  }

  /** Graft-private form: tag, lane, count, then 8 little-endian bytes per
    * long or double, or a 4-byte length and the bytes per bytes value. */
  def encode(p: Partial[_], lane: Int): Array[Byte] = {
    val n = p.n
    var size = 3
    if (lane == BytesLane) { var i = 0; while (i < n) { size += 4 + p.blobs(i).length; i += 1 } }
    else size += 8 * n
    val out = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Tag).put(lane.toByte).put(n.toByte)
    var i = 0
    if (lane == BytesLane) while (i < n) { val b = p.blobs(i); out.putInt(b.length).put(b); i += 1 }
    else while (i < n) { out.putLong(p.longs(i)); i += 1 }
    out.array()
  }

  def decode[S <: AnyRef](bytes: Array[Byte], lane: Int): Partial[S] = {
    val in = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    in.get()
    val l = in.get().toInt
    val n = in.get() & 0xFF
    if (n > 0 && l != lane)
      throw new IllegalStateException(s"raw partial in lane $l where lane $lane was expected")
    val p = new Partial[S]
    if (n > 0) {
      var i = 0
      if (lane == BytesLane) {
        p.blobs = new Array[Array[Byte]](n)
        while (i < n) { val b = new Array[Byte](in.getInt()); in.get(b); p.blobs(i) = b; i += 1 }
      } else {
        p.longs = new Array[Long](n)
        while (i < n) { p.longs(i) = in.getLong(); i += 1 }
      }
      p.n = n
    }
    p
  }
}
