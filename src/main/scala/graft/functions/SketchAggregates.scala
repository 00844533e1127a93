package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch as a native typed-imperative
  * aggregate — the bounded-memory answer to "which tokens exceed 1% of
  * a 100-TB stream" that the built-in surface cannot give: an exact
  * `groupBy(token)` shuffles the full vocabulary, and
  * `approx_count_distinct` answers cardinality, not frequency.
  *
  * One sketch of `k` counters per partition, merged pairwise by
  * Spark's partial-aggregation machinery (ObjectHashAggregate). The
  * mergeable-summaries bound (Agarwal et al., PODS'12) holds under ANY
  * merge tree: every item with true count `> n/(k+1)` survives to the
  * final map with estimate within `n/(k+1)` of truth. Callers treat
  * the surviving keys as a CANDIDATE SUPERSET and re-count exactly —
  * merge order therefore never reaches the result, which stays
  * deterministic (the estimates themselves are merge-order-dependent
  * and deliberately not exposed as a query result).
  *
  * Update is amortized O(1) per element (each decrement-all pays for
  * the k stream elements that filled the map); merge is O(k log k) for
  * the (k+1)-th-largest offset subtraction.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k > 0, s"misra_gries needs a positive counter budget, got $k")

  override def prettyName: String = "misra_gries"
  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: Nil

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // copy out of the unsafe row buffer — UTF8String contents are
      // backed by memory the row iterator reuses
      val s = v.asInstanceOf[UTF8String].toString
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1)
        case None if buf.size < k => buf.update(s, 1L)
        case None =>
          val dead = mutable.ArrayBuffer[String]()
          buf.foreach { case (key, c) =>
            if (c == 1L) dead += key else buf.update(key, c - 1)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long],
                     b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (key, c) => a.update(key, a.getOrElse(key, 0L) + c) }
    if (a.size > k) {
      // subtract the (k+1)-th largest count from everything and drop
      // the non-positive — the merge rule that preserves the n/(k+1)
      // error bound (not plain top-k truncation, which breaks it)
      val counts = a.values.toArray
      java.util.Arrays.sort(counts)
      val offset = counts(counts.length - 1 - k)
      val dead = mutable.ArrayBuffer[String]()
      a.foreach { case (key, c) =>
        if (c <= offset) dead += key else a.update(key, c - offset)
      }
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val entries = buf.toArray
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => UTF8String.fromString(e._1): Any)),
      new GenericArrayData(entries.map(_._2: Any)))
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (key, c) =>
      val kb = key.getBytes("UTF-8") // length-prefixed, no writeUTF 64 KiB cap
      out.writeInt(kb.length)
      out.write(kb)
      out.writeLong(c)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(storage: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      buf.update(new String(kb, "UTF-8"), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGries =
    copy(child = newChildren.head)
}

/** Count + per-dimension sums + Gram matrix of a float-array column in
  * ONE aggregate pass — the sufficient statistics for mean/covariance
  * (and hence PCA) of an embedding corpus. The naive alternative
  * explodes d² entries per row into a shuffle (2080-fold stream blowup
  * at d=64); this keeps a fixed (1 + d + d²)-double buffer per
  * partition, merged elementwise — the same mergeable-summary shape as
  * every built-in moment aggregate, just vector-valued.
  *
  * Buffer/result layout (row-major, upper triangle mirrored at eval):
  * `[n, sum_0..sum_{d-1}, g_00..g_{d-1,d-1}]` with
  * `g_ij = Σ x_i·x_j`. Update accumulates the upper triangle only
  * (d(d+1)/2 fused multiply-adds per row); rows whose array is null,
  * holds a null element or is of the wrong length are skipped,
  * mirroring built-in aggregate null semantics. The input must be
  * `array<float>`. */
case class GramMatrix(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  require(dim > 0, s"gram_matrix needs a positive dimension, got $dim")

  override def prettyName: String = "gram_matrix"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: Nil

  private val len = 1 + dim + dim * dim

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"gram_matrix needs array<float>, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Array[Double] = new Array[Double](len)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null && v.asInstanceOf[ArrayData].numElements() == dim) {
      val x = Kernels.toDoubles(v.asInstanceOf[ArrayData], isFloat = true)
      if (x != null) {
        buf(0) += 1.0
        var i = 0
        while (i < dim) {
          buf(1 + i) += x(i)
          val rowBase = 1 + dim + i * dim
          var j = i
          while (j < dim) { buf(rowBase + j) += x(i) * x(j); j += 1 }
          i += 1
        }
      }
    }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < len) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Double]): Any = {
    // mirror the accumulated upper triangle so consumers read a full
    // symmetric matrix
    val out = buf.clone()
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < i) {
        out(1 + dim + i * dim + j) = out(1 + dim + j * dim + i)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.map(d => d: Any))
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bytes = java.nio.ByteBuffer.allocate(len * 8)
    buf.foreach(bytes.putDouble)
    bytes.array()
  }

  override def deserialize(storage: Array[Byte]): Array[Double] = {
    val bytes = java.nio.ByteBuffer.wrap(storage)
    Array.fill(len)(bytes.getDouble)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMatrix =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMatrix =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GramMatrix =
    copy(child = newChildren.head)
}
