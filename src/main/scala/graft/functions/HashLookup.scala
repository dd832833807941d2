package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A bounded string → string dictionary, built on the driver and shipped
  * inside the plan. Keys are distinct and non-null, values non-null, so a
  * null from `get` always means a miss. Two dictionaries are equal when
  * their entries are, and one prints as its entry count, so a plan that
  * carries a 1000-entry table stays one readable line.
  */
final class StringDict(entries: Seq[(String, String)]) extends Serializable {
  private val table = new java.util.HashMap[UTF8String, UTF8String](entries.size * 2)
  entries.foreach { case (k, v) =>
    require(k != null && v != null, "StringDict keys and values must be non-null")
    require(table.put(UTF8String.fromString(k), UTF8String.fromString(v)) == null,
      s"StringDict key '$k' repeats")
  }

  def size: Int = table.size

  /** The value for `key`, or null when the dictionary has no such key.
    * Called from generated code. */
  def get(key: UTF8String): UTF8String = table.get(key)

  override def equals(o: Any): Boolean = o match {
    case d: StringDict => table.equals(d.table)
    case _ => false
  }
  override val hashCode: Int = table.hashCode
  override def toString: String = s"$size entries"
}

/** Hashed dictionary lookup: `dict[child]`, null when the key is absent or
  * null. The codegen'd form of the hash-map enrichment that stream engines
  * use for a static dimension (a Flink closure map, a C++ `unordered_map`):
  * one probe per row and no join operator, so a micro-batch plan carries
  * no broadcast exchange to rebuild on every trigger. Prints as
  * `hash_lookup(child, N entries)`.
  */
case class HashLookup(child: Expression, dict: StringDict)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hash_lookup takes a string key, got ${child.dataType.simpleString}")
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hash_lookup"

  override def nullSafeEval(input: Any): Any = dict.get(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("dict", dict, classOf[StringDict].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $d.get($c);\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): HashLookup =
    copy(child = newChild)
}

object HashLookup {
  /** Column form. */
  def lookup(key: Column, dict: StringDict): Column =
    ColumnBridge.toColumn(HashLookup(ColumnBridge.toExpression(key), dict))
}
