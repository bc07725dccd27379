package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The file listing of one [[SnapTables]] file set, served from what the
  * manifest already says instead of from a directory listing: the
  * partition values and the `FileStatus` of every file are fixed at
  * construction, so planning a scan lists nothing and runs no Spark job.
  *
  * `listFiles` prunes partition values exactly as Spark's own
  * partition-aware index does: the filters that reference only the
  * partition column are bound to it and evaluated on each value. Data
  * filters are not used (zone pruning stays in [[SnapTables.resolveRange]]).
  *
  * Equality is (root, partition column, file set): two resolves of one
  * generation are equal, so exchange reuse and the cache manager treat
  * them as one table, and two generations never are.
  */
private[ops] final class ManifestFileIndex(root: Path, partCol: String,
    files: Map[Int, Array[FileStatus]]) extends FileIndex {

  override val partitionSchema: StructType =
    StructType(Seq(StructField(partCol, IntegerType, nullable = true)))

  private val dirs: Seq[PartitionDirectory] = files.toSeq.sortBy(_._1)
    .map { case (v, statuses) => PartitionDirectory(InternalRow(v), statuses) }

  private val key: (String, String, Map[Int, Set[String]]) =
    (root.toString, partCol, files.map { case (v, st) => v -> st.map(_.getPath.getName).toSet })

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruning = partitionFilters.filter(_.references.forall(_.name == partCol))
    if (pruning.isEmpty) dirs
    else {
      val keep = Predicate.createInterpreted(pruning.reduce(And).transform {
        case _: AttributeReference => BoundReference(0, IntegerType, nullable = true)
      })
      keep.initialize(0)
      dirs.filter(d => keep.eval(d.values))
    }
  }

  override def inputFiles: Array[String] =
    dirs.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = () // a file set never changes once published

  override def sizeInBytes: Long = files.values.map(_.map(_.getLen).sum).sum

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => key == o.key
    case _ => false
  }

  override def hashCode(): Int = key.hashCode()
}
