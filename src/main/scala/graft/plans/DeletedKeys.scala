package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StructType}

/** The deleted keys of one deletion-vector batch group, held as plain
  * driver values and shipped with the plan (inside the stage's task
  * binary, never as a separate `Broadcast`). Values are kept in
  * Catalyst's internal form, NORMALIZED so that hash equality agrees
  * with SQL `=` on the key type: a composite key (struct) becomes the
  * list of its normalized fields, `-0.0` folds to `0.0`, and binary
  * values compare by content. */
final class DeletedKeySet private (keyType: DataType, set: java.util.HashSet[Any])
  extends Serializable {

  def size: Int = set.size

  /** True when `key` (an internal value of the key type) is deleted. A
    * NULL key is never deleted — the anti-join's `=` never matched it. */
  def contains(key: Any): Boolean =
    key != null && set.contains(DeletedKeySet.normalize(key, keyType))
}

object DeletedKeySet {

  /** A set over keys ALREADY normalized by [[normalize]] (the batch
    * loader normalizes once, at load). */
  def apply(keyType: DataType, normalized: Iterator[Any]): DeletedKeySet = {
    val set = new java.util.HashSet[Any]()
    normalized.foreach(set.add)
    new DeletedKeySet(keyType, set)
  }

  /** The hashable form of an internal key value of type `t`. */
  def normalize(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (r: InternalRow, st: StructType) =>
      List.tabulate(st.length)(i =>
        if (r.isNullAt(i)) null else normalize(r.get(i, st(i).dataType), st(i).dataType))
    case (b: Array[Byte], _) => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case (d: Double, _) => if (d == 0.0d) 0.0d else d
    case (f: Float, _) => if (f == 0.0f) 0.0f else f
    case _ => v
  }
}

/** True when the key `child` evaluates to is one of a batch group's
  * deleted keys; [[ResolveDeletionVectors]] plans
  * `Filter(Not(DeletedKey(key, tokens)(keys)), fragment)` for every DV
  * batch group whose keys fit the `dvBroadcastKeys` ceiling.
  *
  * Stock `InSet` would do the probing, but its `toString` prints every
  * value (sorted), which would put up to the ceiling's worth of keys
  * into every explain string and SQL-execution event, and make every
  * plan comparison O(keys). Here the batch TOKENS stand for the keys:
  * they are UUIDs minted once at commit, so equal tokens mean equal key
  * sets, and equality, hashing and printing touch only them. */
case class DeletedKey(child: Expression, tokens: Seq[String])(val keys: DeletedKeySet)
  extends UnaryExpression with Predicate {

  override def nullable: Boolean = false

  override protected def otherCopyArgs: Seq[AnyRef] = keys :: Nil

  override def prettyName: String = "dv_deleted"

  override def toString: String =
    s"$prettyName($child, batches=${tokens.mkString("[", ",", "]")}, keys=${keys.size})"

  override def eval(input: InternalRow): Any = keys.contains(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("dvDeletedKeys", keys)
    val c = child.genCode(ctx)
    val boxed =
      if (CodeGenerator.isPrimitiveType(child.dataType))
        s"${CodeGenerator.boxedType(child.dataType)}.valueOf(${c.value})"
      else c.value.toString
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = !${c.isNull} && $keysRef.contains($boxed);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DeletedKey =
    copy(child = newChild)(keys)
}
