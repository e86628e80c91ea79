package graft.delta

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, AttributeSet,
  BoundReference, Cast, Expression, Literal, Predicate, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import Actions.AddFile

/** A [[FileIndex]] over a snapshot's live `add` actions: file sizes,
  * modification times and partition values come from the log, so a scan
  * lists and `stat`s nothing (Spark's own index over an explicit path list
  * launches a listing job past 32 paths). Partition values are parsed from
  * `add.partitionValues`, the protocol's authoritative copy, which also
  * serves files referenced by absolute path (shallow clones). `root` is the
  * table directory; relative `add.path`s resolve against it.
  * `partitionSchema` names PHYSICAL partition columns, in declared order. */
final class LogFileIndex(root: Path, val files: Seq[AddFile],
                         override val partitionSchema: StructType,
                         timeZone: String) extends FileIndex {

  /** Files grouped by partition, each with its partition row; partitions
    * and files keep the snapshot's order. */
  private lazy val partitions: Seq[(InternalRow, Seq[AddFile])] = {
    val groups = scala.collection.mutable.LinkedHashMap.empty[Map[String, String],
      scala.collection.mutable.ArrayBuffer[AddFile]]
    files.foreach(f => groups.getOrElseUpdate(f.partitionValues,
      scala.collection.mutable.ArrayBuffer.empty) += f)
    groups.toSeq.map { case (values, fs) =>
      InternalRow.fromSeq(partitionSchema.fields.toSeq.map { f =>
        values.get(f.name).flatMap(Option(_)).map(v =>
          Cast(Literal(UTF8String.fromString(v)), f.dataType, Some(timeZone)).eval()).orNull
      }) -> fs.toSeq
    }
  }

  private def status(f: AddFile): FileStatus =
    new FileStatus(f.size, false, 0, 1, f.modificationTime, new Path(root, f.path))

  /** Keeps the partitions every filter accepts (filters reference only
    * partition columns, by name). */
  private def keep(partitionFilters: Seq[Expression]): InternalRow => Boolean =
    partitionFilters.reduceOption(And) match {
      case None => _ => true
      case Some(cond) =>
        val pred = Predicate.createInterpreted(cond.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        pred.eval
    }

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val ok = keep(partitionFilters)
    partitions.collect { case (row, fs) if ok(row) =>
      PartitionDirectory(row, fs.map(f => FileStatusWithMetadata(status(f))))
    }
  }

  /** The same table narrowed to the partitions the filters accept. */
  def prune(partitionFilters: Seq[Expression]): LogFileIndex = {
    val ok = keep(partitionFilters)
    new LogFileIndex(root, partitions.collect { case (row, fs) if ok(row) => fs }.flatten,
      partitionSchema, timeZone)
  }

  override def inputFiles: Array[String] = files.map(status(_).getPath.toUri.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.size).sum
  override def toString: String = s"LogFileIndex(${files.size} files)[$root]"
}

/** Optimizer rule: a filter over partition columns narrows the relation's
  * [[LogFileIndex]] to the matching partitions, so plan statistics and
  * `Dataset.inputFiles` see only those files (Spark's own
  * `PruneFileSourcePartitions` does this for catalog tables only). The
  * scan itself prunes in [[LogFileIndex.listFiles]] either way. */
object PruneLogFileIndex extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, lr: LogicalRelation) => lr.relation match {
      case rel @ HadoopFsRelation(idx: LogFileIndex, parts, _, _, _, _) if parts.nonEmpty =>
        val partAttrs = AttributeSet(lr.output.filter(a => parts.fieldNames.contains(a.name)))
        val partFilters = splitConjunctivePredicates(cond).filter(e => e.deterministic &&
          !SubqueryExpression.hasSubquery(e) &&
          e.references.nonEmpty && e.references.subsetOf(partAttrs))
        if (partFilters.isEmpty) f
        else {
          val pruned = idx.prune(partFilters)
          if (pruned.files.size == idx.files.size) f
          else f.copy(child = lr.copy(relation = rel.copy(location = pruned)(rel.sparkSession)))
        }
      case _ => f
    }
  }
}
