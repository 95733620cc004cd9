package graft.sources

import graft.functions.BoundParam
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The file index of a [[LayoutManifest.readData]] scan: exactly the files
  * one manifest version lists, with their statuses, and no directory
  * listing. Spark calls [[listFiles]] with the scan's data filters while it
  * plans the scan; a file is dropped only when its Parquet bloom on the
  * key column `id` ([[FileFacts]]) rejects every value of an `=` or `IN`
  * predicate on `id`. A file with no known bloom is kept. A dropped file
  * gets no task, and when every file is dropped the scan has no
  * partitions. Span pruning stays with the callers that range over a stat
  * column ([[Layout.prunedRead]], [[Layout.prunedReadIn]]).
  *
  * Spark prints the index as the scan's `Location`: the class name and
  * [[rootPaths]], which are the manifest file (naming layout and version)
  * followed by the live files (`... N entries` counts them).
  */
private[sources] final case class ManifestFileIndex(layout: String, version: Long,
    files: Seq[FileStatus]) extends FileIndex {

  override def rootPaths: Seq[Path] =
    LayoutManifest.manifestPath(layout, version) +: files.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files
      .filter(f => dataFilters.forall(mayMatch(_, f)))
      .map(FileStatusWithMetadata(_))))

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  /** The live files' bytes, as Spark's listing index reports them. */
  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def toString: String = s"ManifestFileIndex[$layout v$version, ${files.size} files]"

  /** False only when no row of `f` can satisfy `e`. */
  private def mayMatch(e: Expression, f: FileStatus): Boolean = e match {
    case And(a, b) => mayMatch(a, f) && mayMatch(b, f)
    case Or(a, b) => mayMatch(a, f) || mayMatch(b, f)
    case EqualTo(a: Attribute, Value(v)) => mayHold(f, a, Seq(v))
    case EqualTo(Value(v), a: Attribute) => mayHold(f, a, Seq(v))
    case In(a: Attribute, list) if list.forall(Value.unapply(_).isDefined) =>
      mayHold(f, a, list.flatMap(Value.unapply))
    case InSet(a: Attribute, set) => mayHold(f, a, set.toSeq.filter(_ != null))
    case _ => true
  }

  /** Whether `f` may hold a row whose `a` is one of `values`: the bloom
    * answers only for `id` of a type the writer blooms, whose Spark values
    * hash as the stored ones.
    */
  private def mayHold(f: FileStatus, a: Attribute, values: Seq[Any]): Boolean =
    a.name != FileFacts.KeyColumn || !FileFacts.bloomable(a.dataType) ||
      FileFacts.bloom(f).forall(b => values.exists(b.mightContain))

  /** A non-null constant of a predicate, as Spark's internal value. */
  private object Value {
    def unapply(e: Expression): Option[Any] = e match {
      case Literal(v, _) if v != null => Some(v)
      case BoundParam(v, _) if v != null => Some(v)
      case _ => None
    }
  }
}

/** What the driver knows about a layout data file without opening it,
  * keyed by the file's identity (path, length, modification time), so a
  * file re-created under the same name is a new key:
  *  - its footer without row groups, for the schema of a read;
  *  - the Parquet bloom filters of its `id` column, one per row group, when
  *    the writer stored them ([[Layout]] writes them in every staged file).
  * The commit path fills both from the footers it opens anyway
  * ([[LayoutManifest.entriesFor]]); a read fills only the schema footer.
  * Both caches are bounded; a file that is not cached is simply kept.
  */
private[graft] object FileFacts {

  /** The store's key column, whose per-file bloom a lookup probes. */
  val KeyColumn = "id"

  /** Spark types of `id` that get a bloom, and that a lookup can probe. */
  def bloomable(t: DataType): Boolean = t match {
    case StringType | IntegerType | LongType => true
    case _ => false
  }

  private final case class Key(path: String, len: Long, mtime: Long)
  private def key(st: FileStatus) = Key(st.getPath.toString, st.getLen, st.getModificationTime)

  /** One file's `id` blooms, one per row group. */
  final class IdBloom(physical: PrimitiveTypeName, groups: Seq[BloomFilter]) {
    def bytes: Long = groups.map(_.getBitsetSize.toLong).sum

    /** False only when no row group can hold `v` (a Spark internal value). */
    def mightContain(v: Any): Boolean = ((physical, v) match {
      case (PrimitiveTypeName.BINARY, s: UTF8String) =>
        Some(groups.head.hash(Binary.fromConstantByteArray(s.getBytes)))
      case (PrimitiveTypeName.INT64, x: java.lang.Long) => Some(groups.head.hash(x.longValue))
      case (PrimitiveTypeName.INT32, x: java.lang.Integer) => Some(groups.head.hash(x.intValue))
      case _ => None
    }).forall(h => groups.exists(_.findHash(h)))
  }

  // bounds: footers by count (KBs each), blooms by their bytes
  private val footers = new Lru[Key, ParquetMetadata](1024, _ => 1L)
  private val blooms = new Lru[Key, IdBloom](64L << 20, _.bytes)

  def bloom(st: FileStatus): Option[IdBloom] = blooms.get(key(st))

  /** Cache what the commit path's open `reader` of `st` shows: the schema
    * footer, and the `id` blooms when every row group has one.
    */
  def remember(st: FileStatus, reader: ParquetFileReader): Unit =
    try {
      val footer = reader.getFooter
      footers.put(key(st),
        new ParquetMetadata(footer.getFileMetaData, java.util.Collections.emptyList()))
      val schema = footer.getFileMetaData.getSchema
      if (schema.containsField(KeyColumn) && !footer.getBlocks.isEmpty) {
        val t = schema.getType(Seq(KeyColumn): _*)
        val groups = footer.getBlocks.asScala.toSeq.map(b =>
          b.getColumns.asScala.find(_.getPath.toDotString == KeyColumn)
            .map(reader.readBloomFilter).orNull)
        if (t.isPrimitive && groups.forall(_ != null)) blooms.put(key(st),
          new IdBloom(t.asPrimitiveType.getPrimitiveTypeName, groups))
      }
    } catch { case NonFatal(_) => () } // an unreadable bloom is an unknown one

  /** The schema Spark's inference gives `files` (its first file in path
    * order, or every footer under `mergeSchema`), from a cached footer.
    */
  def schema(spark: SparkSession, files: Seq[FileStatus], conf: Configuration): StructType =
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean)
      Bridge.inferParquetSchema(spark, files).getOrElse(throw new IllegalStateException(
        s"no Parquet schema in ${files.size} files"))
    else {
      val first = files.minBy(_.getPath.toString)
      val meta = footers.get(key(first)).getOrElse {
        val m = Bridge.parquetFooter(first, conf)
        footers.put(key(first), m)
        m
      }
      Bridge.parquetSchema(spark, first, meta)
    }

  /** An access-ordered map that drops its eldest entries while their total
    * weight passes `maxWeight`.
    */
  private final class Lru[K, V](maxWeight: Long, weight: V => Long) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
    private var total = 0L

    def get(k: K): Option[V] = synchronized(Option(m.get(k)))

    def put(k: K, v: V): Unit = synchronized {
      Option(m.put(k, v)).foreach(old => total -= weight(old))
      total += weight(v)
      val it = m.values.iterator
      while (total > maxWeight && it.hasNext) { total -= weight(it.next()); it.remove() }
    }
  }
}
