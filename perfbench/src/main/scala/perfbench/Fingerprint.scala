package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a result: (rows, 64-bit sum of row
  * hashes). Bit-identical to `fingerprint.py`, whose docstring defines
  * the function; the references compute the same value with no Spark.
  *
  * Hashing every column of every row is also the benchmark's action: it
  * materializes each output column, where `count()` would let Catalyst
  * prune the payload columns a real writer pays for. */
object Fingerprint {
  val NullHash: Long = 0x9E3779B97F4A7C15L
  val ListSeed: Long = 0x1B873593L

  def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 30
    x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 27
    x *= 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xFF)) * 0x100000001B3L
      i += 1
    }
    h
  }

  private def doubleHash(d0: Double): Long = {
    val d = if (d0.isNaN) Double.NaN else if (d0 == 0.0) 0.0 else d0
    mix64(java.lang.Double.doubleToLongBits(d))
  }

  /** Hash of the value at `i` of a row or array, by its Spark type. */
  private def valueHash(get: Int => Any, isNull: Int => Boolean, i: Int,
                        t: DataType): Long =
    if (isNull(i)) NullHash
    else t match {
      case LongType => mix64(get(i).asInstanceOf[Long])
      case IntegerType => mix64(get(i).asInstanceOf[Int].toLong)
      case ShortType => mix64(get(i).asInstanceOf[Short].toLong)
      case ByteType => mix64(get(i).asInstanceOf[Byte].toLong)
      case BooleanType => mix64(if (get(i).asInstanceOf[Boolean]) 1L else 0L)
      case DoubleType => doubleHash(get(i).asInstanceOf[Double])
      case FloatType => doubleHash(get(i).asInstanceOf[Float].toDouble)
      case StringType =>
        fnv1a64(get(i).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
      case ArrayType(et, _) =>
        val a = get(i).asInstanceOf[ArrayData]
        var h = ListSeed
        var j = 0
        while (j < a.numElements()) {
          h = mix64(h * 31 + valueHash(k => a.get(k, et), a.isNullAt, j, et))
          j += 1
        }
        h
      case other =>
        throw new IllegalArgumentException(s"no fingerprint for $other")
    }

  /** Cell hasher for a top-level column: the common types read their
    * value unboxed; nested ones go through the generic path. */
  private def cell(t: DataType, c: Int): InternalRow => Long = t match {
    case LongType => r => if (r.isNullAt(c)) NullHash else mix64(r.getLong(c))
    case IntegerType => r => if (r.isNullAt(c)) NullHash else mix64(r.getInt(c).toLong)
    case StringType => r => if (r.isNullAt(c)) NullHash else fnv1a64(r.getUTF8String(c).getBytes)
    case DoubleType => r => if (r.isNullAt(c)) NullHash else doubleHash(r.getDouble(c))
    case _ => r => valueHash(k => r.get(k, t), r.isNullAt, c, t)
  }

  /** Hashes the rows of one partition: (rows, sum of row hashes). */
  private def partition(schema: StructType, rows: Iterator[InternalRow]): (Long, Long) = {
    val cells = schema.fields.zipWithIndex.map { case (f, c) => cell(f.dataType, c) }
    val salts = schema.fields.map(f => fnv1a64(f.name.getBytes(UTF_8)))
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      var s = 0L
      var c = 0
      while (c < cells.length) {
        s += mix64(cells(c)(r) ^ salts(c))
        c += 1
      }
      sum += mix64(s)
      n += 1
    }
    (n, sum)
  }

  /** Runs `df`'s already-planned physical plan once, hashing its rows. */
  def of(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.executedPlan.execute()
        .mapPartitions(it => Iterator(partition(schema, it)))
        .collect()
        .foldLeft((0L, 0L)) { case ((n, s), (pn, ps)) => (n + pn, s + ps) }
    }
  }

  def format(fp: (Long, Long)): String = f"${fp._1}%d:${fp._2}%016x"
}
