package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.DataType

/** One sketch aggregate's algebra over buffers `B`, free of Spark's
  * aggregate plumbing so driver-side folds run the same merge. `merge` is
  * associative and commutative (states merge in any order and tree to the
  * same state); `update` never sees null; both may mutate and return
  * their first argument; `deserialize` inverts `serialize`. Serializable:
  * the plan node ships it to executors. */
trait Sketch[B] extends Serializable {
  def dataType: DataType
  def init(): B
  def update(buf: B, v: Any): B
  def merge(buf: B, other: B): B
  def eval(buf: B): Any
  def serialize(buf: B): Array[Byte]
  def deserialize(bytes: Array[Byte]): B

  /** This sketch over a resolved input of type `t` (for an update that
    * reads ARRAY<FLOAT> and ARRAY<DOUBLE> differently). */
  def forInput(t: DataType): Sketch[B] = this
}

/** The one plan node of every native sketch aggregate: `graft_x(col)`
  * folds the non-null values of `child`, type-checked by `param`, into
  * `sketch`, which its registry row ([[GraftExtensions.functions]]) builds
  * from the dials, so `sql` and column names stay `graft_x(col)`. Spark
  * plans it as partial plus final `ObjectHashAggregate`, exchanging
  * `serialize`'s bytes; an empty or all-null group evaluates `init()`.
  */
final case class SketchAgg[B](name: String, sketch: Sketch[B], param: Param,
    child: Expression, mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] with UnaryLike[Expression] {

  override def dataType: DataType = sketch.dataType
  override def nullable: Boolean = false
  override def prettyName: String = name
  override protected def flatArguments: Iterator[Any] = Iterator(child, sketch)

  override def checkInputDataTypes(): TypeCheckResult =
    if (param.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name needs ${param.sql}, got ${child.dataType}")

  @transient private lazy val typed: Sketch[B] = sketch.forInput(child.dataType)
  override def createAggregationBuffer(): B = sketch.init()

  override def update(buf: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v == null) buf else typed.update(buf, v)
  }

  override def merge(buf: B, other: B): B = sketch.merge(buf, other)
  override def eval(buf: B): Any = sketch.eval(buf)
  override def serialize(buf: B): Array[Byte] = sketch.serialize(buf)
  override def deserialize(bytes: Array[Byte]): B = sketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchAgg[B] =
    copy(child = newChild)
}

/** A sketch whose state is `cells` long cells (count-min counters, Gram
  * sums): merge adds cell-wise, and the bytes are the `header` longs, then
  * the cells, big-endian (`java.nio.ByteBuffer`'s default order).
  */
abstract class LongCellSketch(name: String, cells: Int, header: Long*)
  extends Sketch[Array[Long]] {

  override def init(): Array[Long] = new Array[Long](cells)

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < cells) {
      buf(i) += other(i)
      i += 1
    }
    buf
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate((header.length + cells) * 8)
    header.foreach(bb.putLong)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val longs = java.nio.ByteBuffer.wrap(bytes).asLongBuffer()
    header.foreach { h =>
      val got = longs.get()
      require(got == h, s"$name buffer header mismatch: expected 0x${h.toHexString}, " +
        s"got 0x${got.toHexString}")
    }
    require(longs.remaining() == cells && bytes.length % 8 == 0,
      s"$name buffer length mismatch: expected ${(header.length + cells) * 8}, " +
        s"got ${bytes.length}")
    val out = new Array[Long](cells)
    longs.get(out)
    out
  }
}
