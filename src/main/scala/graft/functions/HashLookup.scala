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
  *
  * Every micro-batch serializes the plan's copy for the closure check and
  * the task binary, and every task deserializes one. So a dictionary
  * travels as one packed array: per string (key 0, value 0, key 1, ...)
  * its varint byte length, then its UTF-8 bytes, about a third of a
  * serialized `HashMap` of `UTF8String`s. A copy packs once and keeps the
  * array. A deserialized copy takes its table from [[StringDict.unpack]],
  * which builds a table once per JVM for each packed array: every task of
  * every micro-batch deserializes the same dictionary, and a rebuild of a
  * 1000-entry table costs ~0.1 ms. The shared table is never written.
  */
final class StringDict(entries: Seq[(String, String)]) extends Serializable {
  @transient private var table = new java.util.HashMap[UTF8String, UTF8String](entries.size * 2)
  @transient private var packed: Array[Byte] = _
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
  @transient override lazy val hashCode: Int = table.hashCode
  override def toString: String = s"$size entries"

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    if (packed == null) {
      val b = new java.io.ByteArrayOutputStream
      table.forEach { (k, v) =>
        for (s <- Seq(k, v)) {
          var n = s.numBytes
          while (n >= 0x80) { b.write(n & 0x7f | 0x80); n >>>= 7 }
          b.write(n)
          s.writeTo(b)
        }
      }
      packed = b.toByteArray
    }
    out.writeInt(packed.length)
    out.write(packed)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    val bytes = new Array[Byte](in.readInt())
    in.readFully(bytes)
    val (p, t) = StringDict.unpack(bytes)
    packed = p
    table = t
  }

  /** Whether this copy and `o` look up in one and the same table. */
  private[graft] def sharesTable(o: StringDict): Boolean = table eq o.table
}

object StringDict {
  private type Table = java.util.HashMap[UTF8String, UTF8String]

  /** Tables built from packed arrays, least recently used first, keyed by
    * the array's content: a hit compares every byte. */
  private val shared = new java.util.LinkedHashMap[java.nio.ByteBuffer, (Array[Byte], Table)](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[java.nio.ByteBuffer, (Array[Byte], Table)]): Boolean = size > 16
  }

  /** The table packed in `bytes`, with the array it was built over (whose
    * bytes equal `bytes`): built on the first call for these bytes, shared
    * by later calls while it stays among the 16 most recently used. */
  private def unpack(bytes: Array[Byte]): (Array[Byte], Table) = {
    val key = java.nio.ByteBuffer.wrap(bytes)
    shared.synchronized(Option(shared.get(key))).getOrElse {
      val table = new Table()
      var pos = 0
      def next(): UTF8String = {
        var (n, shift) = (0, 0)
        while ({ val b = bytes(pos); pos += 1; n |= (b & 0x7f) << shift; shift += 7; b < 0 }) ()
        pos += n
        UTF8String.fromBytes(bytes, pos - n, n)
      }
      while (pos < bytes.length) table.put(next(), next())
      shared.synchronized(Option(shared.putIfAbsent(key, (bytes, table))).getOrElse((bytes, table)))
    }
  }
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
