package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

/** The file listing of one [[SnapTables]] file set, served from what the
  * manifest already says instead of from a directory listing: the
  * partition values and the `FileStatus` of every file are fixed at
  * construction, so planning a scan lists nothing and runs no Spark job.
  *
  * `listFiles` prunes partition values exactly as Spark's own
  * partition-aware index does: the filters that reference only the
  * partition column are bound to it and evaluated on each value. It also
  * drops a file whose zone (its [min, max] of the integral `statsCol`)
  * cannot satisfy a data-filter conjunct `=`, `<`, `<=`, `>`, `>=` or `IN`
  * between that bare column and non-null literals. Any other predicate
  * (`OR`, `IS NULL`, a cast, another column) and a file with no zone keep
  * the file; the scan still filters every row it reads.
  *
  * Equality is (root, partition column, file set): two resolves of one
  * generation are equal, so exchange reuse and the cache manager treat
  * them as one table, and two generations never are.
  */
private[ops] final class ManifestFileIndex(root: Path, partCol: String,
    files: Map[Int, Array[FileStatus]], statsCol: Option[String],
    zones: Map[(Int, String), (Long, Long)]) extends FileIndex {

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
    val byPartition = if (pruning.isEmpty) dirs else {
      val keep = Predicate.createInterpreted(pruning.reduce(And).transform {
        case _: AttributeReference => BoundReference(0, IntegerType, nullable = true)
      })
      keep.initialize(0)
      dirs.filter(d => keep.eval(d.values))
    }
    // Spark passes the data filters split into conjuncts
    val tests = if (zones.isEmpty) Nil else dataFilters.flatMap(zoneTest)
    if (tests.isEmpty) byPartition
    else byPartition.map { d =>
      val v = d.values.getInt(0)
      d.copy(files = d.files.filter(f => zones.get((v, f.getPath.getName))
        .forall { case (lo, hi) => tests.forall(_(lo, hi)) }))
    }.filter(_.files.nonEmpty)
  }

  /** The bare stats column, when it is integral: its zones are exact. */
  private object Key {
    private[ManifestFileIndex] def unapply(a: AttributeReference): Boolean =
      statsCol.contains(a.name) &&
        Seq(ByteType, ShortType, IntegerType, LongType).contains(a.dataType)
  }

  /** A non-null literal compared with [[Key]], so integral too, as a Long. */
  private object Value {
    private[ManifestFileIndex] def unapply(l: Literal): Option[Long] =
      Option(l.value).collect { case v: Number => v.longValue }
  }

  /** Whether a file whose zone is [lo, hi] may hold a row satisfying `e`;
    * None for a conjunct no zone can refute.
    */
  private def zoneTest(e: Expression): Option[(Long, Long) => Boolean] = e match {
    case EqualTo(Key(), Value(v)) => anyOf(Seq(v))
    case EqualTo(Value(v), Key()) => anyOf(Seq(v))
    case LessThan(Key(), Value(v)) => Some((lo, _) => lo < v)
    case GreaterThan(Value(v), Key()) => Some((lo, _) => lo < v)
    case LessThanOrEqual(Key(), Value(v)) => Some((lo, _) => lo <= v)
    case GreaterThanOrEqual(Value(v), Key()) => Some((lo, _) => lo <= v)
    case GreaterThan(Key(), Value(v)) => Some((_, hi) => hi > v)
    case LessThan(Value(v), Key()) => Some((_, hi) => hi > v)
    case GreaterThanOrEqual(Key(), Value(v)) => Some((_, hi) => hi >= v)
    case LessThanOrEqual(Value(v), Key()) => Some((_, hi) => hi >= v)
    case In(Key(), list) if list.forall { case Value(_) => true; case _ => false } =>
      anyOf(list.collect { case Value(v) => v })
    case InSet(Key(), set) if set.forall(_.isInstanceOf[Number]) =>
      anyOf(set.toSeq.map(_.asInstanceOf[Number].longValue))
    case _ => None
  }

  private def anyOf(vs: Seq[Long]): Option[(Long, Long) => Boolean] =
    Some((lo, hi) => vs.exists(v => lo <= v && v <= hi))

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
