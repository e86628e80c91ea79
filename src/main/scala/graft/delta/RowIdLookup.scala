package graft.delta

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Broadcast file-key → long lookup for the row-tracking read path: one
  * long per LIVE FILE (its `baseRowId` or `defaultRowCommitVersion`),
  * probed per row with the scan's UTF8String file key — the same
  * broadcast-probe-in-scan shape as [[DvLookup]], so computing `_row_id =
  * baseRowId + row_index` stays inside whole-stage codegen with
  * per-executor memory ∝ file count, never row count.
  *
  * The UTF8String-keyed map is rebuilt lazily per executor from the
  * serialized String form (UTF8String's own serialization is
  * position-dependent; Strings are safe to ship). */
final class FileLongLookup(entries: Map[String, Long]) extends Serializable {
  @transient private lazy val m: java.util.HashMap[UTF8String, java.lang.Long] = {
    val h = new java.util.HashMap[UTF8String, java.lang.Long](entries.size * 2)
    entries.foreach { case (k, v) => h.put(UTF8String.fromString(k), v) }
    h
  }
  def get(k: UTF8String): java.lang.Long = m.get(k)
}

/** The broadcast lookup as a Catalyst expression: NULL when the key is
  * absent (a file with no assigned base row id — pre-feature files). */
case class FileLongValue(child: Expression, lookup: Broadcast[FileLongLookup],
                         tag: String)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = s"file_$tag"

  override protected def nullSafeEval(k: Any): Any =
    lookup.value.get(k.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileLongLookup", lookup,
      classOf[Broadcast[FileLongLookup]].getName)
    nullSafeCodeGen(ctx, ev, k => {
      val tmp = ctx.freshName("boxed")
      s"""java.lang.Long $tmp = ((graft.delta.FileLongLookup)$ref.value()).get($k);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): FileLongValue =
    copy(child = newChild)
}

