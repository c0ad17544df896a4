package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** QUANTILE SKETCH as a bounded mergeable aggregate — the KMV trick
  * applied to rank estimation (r9 verdict #3): keep the k rows whose
  * md5(row-identity) hashes are smallest, with the VALUE attached.
  * Because the hash is uniform on distinct identities, the kept rows
  * are a uniform without-replacement sample of the group, and the
  * empirical quantile of the kept values (all Horvitz-Thompson weights
  * equal under uniform sampling) estimates the group quantile with
  * ~1/√k rank error. Below saturation (group smaller than k) the
  * sample IS the group and every quantile is exact.
  *
  * Same execution contract as [[KmvSketch]]/[[PrioritySample]]: the
  * buffer holds ≤ k (hash, value) entries as a live TreeMap under
  * ObjectHashAggregateExec; partials merge by keeping the k smallest
  * hashes of the union (min-k of a union == min-k of merged min-k
  * sets, values riding along untouched); the exchange carries one O(k)
  * sketch per (task, group); and the SAME aggregate runs as a
  * streaming bounded-state aggregation (q160) — one state row per
  * group, never growing.
  *
  * DETERMINISTIC and cross-engine exact, unlike t-digest/KLL (whose
  * float centroids depend on merge order, so no oracle could
  * hash-verify them): both engines take the identical md5 bottom-k and
  * the estimator is element selection — value at position ⌈p·m⌉ of the
  * kept values ordered (value, hash) — with no arithmetic on the
  * values at all. Duplicate row identities (replays) are idempotent by
  * construction: TreeMap.put on an existing hash replaces, never
  * evicts (the PrioritySample r9 duplicate-eviction lesson, here
  * structural).
  */
case class QuantileSketch(
    hash: Expression,
    value: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[UTF8String, Long]] {

  require(k > 0, "quantile-sketch k must be positive")

  override def prettyName: String = "graft_quantile_sketch"

  override def children: Seq[Expression] = Seq(hash, value)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QuantileSketch =
    copy(hash = newChildren(0), value = newChildren(1))

  override def checkInputDataTypes(): TypeCheckResult =
    if (hash.dataType == StringType && value.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string hash, bigint value), got " +
        children.map(_.dataType.sql).mkString(", "))

  /** Storage form: the kept sample sorted by hash ascending — the
    * shape sketch tables store and downstream quantile extraction
    * re-sorts by value (`Layout.q159QuantileSketch`). */
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", StringType, nullable = false),
    StructField("v", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeMap[UTF8String, Long] =
    new java.util.TreeMap[UTF8String, Long]()

  /** Cap-insert: keep the ≤ k smallest distinct hashes. put on an
    * already-present hash REPLACES (same row identity ⇒ same value) and
    * leaves the size alone, so only a NEW hash can push the map past k
    * — and then the largest goes: the TreeMap form of the TreeSet
    * duplicate-eviction guard, read off the size rather than off put's
    * return (typed `scala.Long`, which the compiler holds is never
    * null). */
  private def insert(
      buf: java.util.TreeMap[UTF8String, Long],
      h: UTF8String, v: Long, owned: Boolean): Unit =
    if (buf.size < k || h.compareTo(buf.lastKey()) < 0) {
      buf.put(if (owned) h else h.clone(), v)
      if (buf.size > k) { buf.pollLastEntry(); () }
    }

  override def update(
      buf: java.util.TreeMap[UTF8String, Long],
      input: InternalRow): java.util.TreeMap[UTF8String, Long] = {
    val h = hash.eval(input)
    val v = value.eval(input)
    if (h != null && v != null)
      insert(buf, h.asInstanceOf[UTF8String], v.asInstanceOf[Long], owned = false)
    buf
  }

  override def merge(
      buf: java.util.TreeMap[UTF8String, Long],
      other: java.util.TreeMap[UTF8String, Long])
      : java.util.TreeMap[UTF8String, Long] = {
    val it = other.entrySet().iterator()
    var go = true
    // other ascends: first hash past the cap ends the merge
    while (go && it.hasNext) {
      val e = it.next()
      if (buf.size < k || e.getKey.compareTo(buf.lastKey()) < 0)
        insert(buf, e.getKey, e.getValue, owned = true)
      else go = false
    }
    buf
  }

  override def eval(buf: java.util.TreeMap[UTF8String, Long]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(e.getKey, e.getValue)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = e.getKey.getBytes
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[UTF8String, Long] = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = new java.util.TreeMap[UTF8String, Long]()
    var i = 0
    while (i < n) {
      val len = in.getInt
      val b = new Array[Byte](len)
      in.get(b)
      val v = in.getLong
      buf.put(UTF8String.fromBytes(b), v)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(inputAggBufferOffset = newOffset)
}

object QuantileSketchAgg {

  private val FnName = "graft_quantile_sketch"

  private def litK(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"quantile-sketch k must be an int literal, got $other")
  }

  /** Register (idempotent per session) and return the sketch column:
    * `qsketch(spark, $"h", $"v", 256)` → array<struct<h, v>>. */
  def qsketch(spark: SparkSession, hashCol: Column, valueCol: Column, k: Int): Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FnName, exprs => QuantileSketch(exprs(0), exprs(1), litK(exprs(2))), "built-in")
    call_function(FnName, hashCol, valueCol, org.apache.spark.sql.functions.lit(k))
  }
}
