package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, DataTypes, IntegerType, StructType}

/** The catalog's `bucket(numBuckets, col)` function — the piece that
  * lets the planner REASON about bucketed storage layout (the transform
  * the reference parses into a `BucketSpec` then refuses to honor,
  * /root/reference/spark-dsv2-common-base/src/main/scala/org/apache/spark/sql/InternalSqlBridge.scala:25-38).
  *
  * Resolution contract: `V2ExpressionUtils.loadV2FunctionOpt` looks the
  * name up in the TABLE's catalog at the EMPTY namespace
  * (`Identifier.of(Array.empty, "bucket")` — verified against the 4.1.2
  * bytecode), binds it against `(numBuckets: int, col)`, and wraps the
  * scan-reported `bucket(N, col)` transform in a `TransformExpression`.
  * Storage-partitioned-join compatibility then compares
  * [[GraftBucketBound.canonicalName]] + numBuckets across the two scans,
  * so two tables bucketed by this catalog (same N, join keys in the
  * bucket columns) co-partition with zero exchanges.
  *
  * Semantics contract (load-bearing): the bucket id MUST equal the
  * write path's row routing. [[graft.catalog.write.GraftWrite]] routes a
  * bucketed write through a clustered-distribution shuffle with
  * `requiredNumPartitions = N`, which Spark plans as
  * `HashPartitioning(col, N)` — partition id
  * `pmod(murmur3_hash(col, seed=42), N)`. This function computes exactly
  * that (same `Murmur3HashFunction`, same seed, same pmod), so a bucket
  * id derived from a FILE NAME (the writer names files by shuffle
  * partition id) and one computed from a row value always agree. A NULL
  * bucket value leaves the hash at its seed, matching
  * `HashExpression.eval`'s null-skip. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"

  /** THE bucket-id definition — one shared implementation for the
    * function's evaluation paths AND the scan side's bucket pruning
    * (GraftBucketLayout's static and runtime bucket sets), so the
    * routing math can never desynchronize across call sites. NULL
    * hashes to the seed (matching HashExpression's null-skip). */
  def bucketId(value: Any, dt: DataType, numBuckets: Int): Int = {
    val h = if (value == null) 42L
      else Murmur3HashFunction.hash(value, dt, 42L)
    val r = h.toInt % numBuckets
    if (r < 0) r + numBuckets else r
  }

  override def description(): String =
    "bucket(numBuckets, col): storage bucket id — pmod(murmur3(col), numBuckets), " +
      "identical to the bucketed write path's row routing"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, col), got ${inputType.catalogString}")
    require(inputType.fields(0).dataType == IntegerType,
      s"bucket's first argument must be INT, got ${inputType.fields(0).dataType.sql}")
    new GraftBucketBound(inputType.fields(1).dataType)
  }
}

/** Bound form of [[GraftBucketFunction]] for one bucket-column type.
  *
  * Carries typed MAGIC `invoke` overloads beside the generic
  * `produceResult` row fallback: when the planner must EVALUATE the
  * function (the `v2.bucketing.shuffle.enabled` path, which shuffles a
  * non-bucketed join side by the bucketed side's transform),
  * `V2ExpressionUtils.resolveScalarFunction` binds the exact-signature
  * `invoke` as a direct codegen'd call — the row-boxing fallback only
  * serves column types without an overload. */
class GraftBucketBound(colType: DataType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(DataTypes.IntegerType, colType)
  override def resultType(): DataType = DataTypes.IntegerType
  override def name(): String = "bucket"
  // type-qualified: bucket ids of an INT key and a BIGINT key hash
  // differently (hashInt vs hashLong), so cross-type "compatibility"
  // must fail the SPJ check and fall back to a shuffle, not mis-align
  override def canonicalName(): String = s"graft.bucket(${colType.catalogString})"
  override def isResultNullable: Boolean = false

  private def pmod(h: Long, n: Int): Int = {
    val r = h.toInt % n
    if (r < 0) r + n else r
  }

  // magic methods for the common bucket-key types (same math as
  // produceResult; non-nullable primitives — NULL keys route through
  // the row fallback's null branch)
  def invoke(numBuckets: Int, value: Long): Int =
    pmod(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(value, 42),
      numBuckets)
  def invoke(numBuckets: Int, value: Int): Int =
    pmod(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(value, 42),
      numBuckets)

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    GraftBucketFunction.bucketId(
      if (input.isNullAt(1)) null else input.get(1, colType), colType, n)
  }
}
