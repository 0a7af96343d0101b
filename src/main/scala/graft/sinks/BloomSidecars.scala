package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** The lake's per-file bloom sidecars (`_blooms/<rel>.<col>.bloom`, the
  * POINT-lookup index of [[SnapshotLake.readPoint]] and merge pruning),
  * built by the task that writes the data file: no second scan of what
  * was just written. Every lake write stages its data files through a
  * [[HiveRoutingWriter]], which wraps each parquet writer of a write that
  * declares bloom columns in a [[BloomWriter]], so one sidecar per
  * declared column lands beside each data file;
  * [[SnapshotStagedWrite.publishStaged]] moves the sidecars under
  * `_blooms/` with their data files, before the manifest commit that
  * makes either visible.
  */
private[graft] object BloomSidecars {

  /** False-positive rate of the per-file bloom sidecars. A false positive
    * only costs an extra file open (the residual filter still runs); there
    * are NO false negatives, which is what pruning soundness rests on.
    */
  val Fpp = 0.01

  private val Hashable: Set[DataType] =
    Set(LongType, IntegerType, ShortType, ByteType, StringType)

  /** Refuse bloom columns that `dataSchema` (the columns written INTO the
    * files — partition columns live in directory names) lacks or cannot
    * hash.
    */
  def requireSupported(dataSchema: StructType, cols: Seq[String]): Unit =
    cols.foreach { c =>
      val f = dataSchema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"bloom column $c not in the written data columns " +
            s"(${dataSchema.fieldNames.mkString(",")}) — partition columns " +
            "live in directory names and cannot carry a bloom sidecar"))
      require(Hashable.contains(f.dataType),
        s"bloom column $c has type ${f.dataType.simpleString}; supported: " +
          "integral + string (floats/timestamps belong to min/max envelopes)")
    }

  /** Where the writing task leaves the sidecar of data file `data` for
    * column `c`: beside it in the stage dir, under a `_` name no data
    * file has. Publishing moves the two together; a write that never
    * publishes drops both with its stage dir.
    */
  def staged(data: Path, c: String): Path =
    new Path(data.getParent, s"_${data.getName}.$c.bloom")

  /** Keys are hashed identically at build and probe time: integral values
    * through putLong/mightContainLong, strings through their UTF-8 bytes.
    * Floats and timestamps are deliberately unsupported — equality point
    * lookup on them is a data-modeling smell, and min/max envelopes
    * already serve their range queries.
    */
  def put(bf: BloomFilter, v: Any): Unit = v match {
    case s: String => bf.putBinary(s.getBytes(StandardCharsets.UTF_8))
    case n: java.lang.Number => bf.putLong(n.longValue)
    case other => throw new IllegalArgumentException(
      s"bloom column value unsupported: ${other.getClass.getName}")
  }

  def hit(bf: BloomFilter, v: Any): Boolean = v match {
    case s: String => bf.mightContainBinary(s.getBytes(StandardCharsets.UTF_8))
    case n: java.lang.Number => bf.mightContainLong(n.longValue)
    case other => throw new IllegalArgumentException(
      s"point-lookup value unsupported for bloom probe: ${other.getClass.getName}")
  }

  /** A file's filter: sized by its row count, so the stated [[Fpp]] holds
    * at any file size; a column with no non-null value gets the filter
    * of one expected item and no bits — "definitely absent" stays
    * answerable.
    */
  def build(rows: Long, values: Iterable[Any]): BloomFilter = {
    val bf = BloomFilter.create(if (values.isEmpty) 1L else math.max(1L, rows), Fpp)
    values.foreach(put(bf, _))
    bf
  }
}

/** Passes rows through to the parquet writer, counting them and keeping
  * each bloom column's distinct non-null values: integrals widened to
  * long in a primitive-keyed set, strings as copies of their UTF-8 bytes.
  * Heap per open file grows with those distinct counts, not with its
  * rows. On close, once the row count is known, builds and writes each
  * column's sidecar.
  */
private[sinks] final class BloomWriter(parquet: OutputWriter, dataPath: String,
    dataSchema: StructType, cols: Seq[String], context: TaskAttemptContext)
    extends OutputWriter {

  private val ordinals = cols.map(dataSchema.fieldIndex).toArray
  private val types = ordinals.map(dataSchema(_).dataType)
  private val longs = ordinals.map(_ => scala.collection.mutable.LongMap.empty[Unit])
  private val strings = ordinals.map(_ => scala.collection.mutable.HashSet.empty[UTF8String])
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    parquet.write(row)
    rows += 1
    var k = 0
    while (k < ordinals.length) {
      val o = ordinals(k)
      if (!row.isNullAt(o)) types(k) match {
        case StringType =>
          // the caller may reuse the row and the bytes its strings point at
          val u = row.getUTF8String(o)
          if (!strings(k).contains(u)) strings(k) += u.clone()
        case LongType => longs(k)(row.getLong(o)) = ()
        case IntegerType => longs(k)(row.getInt(o).toLong) = ()
        case ShortType => longs(k)(row.getShort(o).toLong) = ()
        case ByteType => longs(k)(row.getByte(o).toLong) = ()
        case t => throw new IllegalArgumentException(
          s"bloom column ${cols(k)} has type ${t.simpleString}")
      }
      k += 1
    }
  }

  override def close(): Unit = {
    parquet.close()
    val data = new Path(dataPath)
    val fs = data.getFileSystem(context.getConfiguration)
    cols.indices.foreach { k =>
      val bf = BloomSidecars.build(rows,
        strings(k).toSeq.map(_.toString) ++ longs(k).keys.map(Long.box))
      val out = fs.create(BloomSidecars.staged(data, cols(k)), true)
      try bf.writeTo(out) finally out.close()
    }
  }

  override def path(): String = parquet.path()
}
