package graft.operators

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.{HexFormat, UUID}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{BooleanNode, IntNode, JsonNodeFactory, LongNode, NullNode, TextNode}
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.{FileSourceScanExec, PartitionedFileUtil}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{CatalogFileIndex, FilePartition, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.slf4j.LoggerFactory

import graft.engine.ScalePolicy

/** A per-partition aggregate served from cached per-partition result rows,
  * recomputing only the partitions whose files changed.
  *
  * `perPartition` must be decomposable by `partCol`: its rows for one value
  * of the table's partition column `partCol` depend only on that
  * partition's rows, and every output row carries `partCol` (a grouped
  * aggregate whose keys include the partition column, such as the daily
  * distinct count). Each call
  *  1. resolves the table once and lists its partitions through Spark's
  *     own file index (the listing the full query does, with the session's
  *     listing posture and file-status cache);
  *  2. fingerprints each partition by its sorted data files' (path,
  *     length, modification time);
  *  3. reads the cache file `<table location>/_serving/<name>` through the
  *     Hadoop filesystem, on the driver, with no Spark job;
  *  4. collects `perPartition` of the table filtered to the partitions
  *     whose fingerprint differs from the cached one (unfiltered when every
  *     partition differs). The filter is on `partCol`, so the scan reads
  *     only those partitions. When Spark's split arithmetic over the listed
  *     files of those partitions plans that scan as one task (recorded as a
  *     [[graft.engine.ScalePolicy]] decision, `scan-tasks=N cap=1`; never
  *     under `spark.graft.scale=large`), the filtered table is read as
  *     `coalesce(1)`: narrow, and no less parallel than the scan, while a
  *     grouped aggregate over one partition plans no exchange, so the
  *     recompute is one job. Each recomputed partition's rows are stored
  *     under the fingerprint of the files that query's scan read, so a
  *     partition that changes during the call recomputes on the next one;
  *  5. writes the cache back, to a temporary name renamed into place, only
  *     when its content changed;
  *  6. returns every listed partition's rows, sorted by `partCol`, as a
  *     local relation: collecting it runs no job.
  * Evaluation is eager: the recompute runs inside this call. When nothing
  * changed, the call runs no Spark job and writes nothing. Partitions no
  * longer listed (dropped, or not yet registered) drop out of the result and
  * of the cache.
  *
  * The cache is a cache, never state. A missing file is a cold cache; an
  * unreadable, corrupt or foreign file (another format version, table
  * schema, partition column or result schema) is a cold cache with a WARN;
  * a write that fails (a read-only zone) is a WARN, and the call still
  * serves. On a cold cache every partition counts as changed, so the call
  * runs the full query. Deleting the `_serving` directory is therefore
  * always safe, and no conf turns the cache off. The file holds plain JSON
  * (format version, table schema, partition column, result schema, one
  * entry of value, fingerprint and rows per partition), never serialized
  * objects; `_`-prefixed directories are skipped by Spark's file index and
  * by partition discovery, so the table never reads it.
  *
  * Result columns must be numeric, boolean, string, date, timestamp or
  * decimal.
  *
  * Each call logs one INFO line: table, cache name, partitions listed,
  * partitions changed, rows recomputed and the cache state (`hit`, `cold`,
  * `unreadable` or `unwritable`). */
object PartitionIncremental {

  private val Version = 1

  /** The `_`-prefixed directory under the table's root that holds the
    * caches, one file per name. */
  val CacheDir = "_serving"

  private val log = LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))
  private val json = new ObjectMapper()
  private val nodes = JsonNodeFactory.instance
  private val scans = new AdaptiveSparkPlanHelper {}

  /** What one call did; its string is the call's INFO line. */
  final case class Report(table: String, cache: String, listed: Int,
                          changed: Int, rows: Int, state: String) {
    override def toString: String =
      s"partitionIncremental table=$table cache=$cache listed=$listed " +
        s"changed=$changed rows=$rows state=$state"
  }

  /** Test-only observability: the most recent call's report on this JVM. */
  @volatile private[graft] var lastReport: Report = _

  /** One partition's cached result: the fingerprint of the files its rows
    * were computed from, and the rows (Catalyst internal values). */
  private final case class Entry(fingerprint: String, rows: Seq[InternalRow])

  def apply(spark: SparkSession, table: String, partCol: String, name: String)(
      perPartition: DataFrame => DataFrame): DataFrame = {
    val df = spark.table(table)
    val relation = df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] => l
    }.getOrElse(throw new IllegalArgumentException(
      s"partitionIncremental: $table is not a file-source table"))
    val fsRelation = relation.relation.asInstanceOf[HadoopFsRelation]
    val partSchema = fsRelation.partitionSchema
    require(partSchema.fieldNames.contains(partCol),
      s"partitionIncremental: $partCol is not a partition column of $table " +
        s"(partitioned by ${partSchema.fieldNames.mkString(", ")})")
    val partIdx = partSchema.fieldIndex(partCol)
    val partType = partSchema(partIdx).dataType
    val resultSchema = perPartition(df).schema
    require(resultSchema.fieldNames.contains(partCol),
      s"partitionIncremental: the per-partition result has no $partCol column")
    resultSchema.foreach(f => require(storable(f.dataType),
      s"partitionIncremental: result column ${f.name} is ${f.dataType.simpleString}, " +
        "which the cache does not store"))
    val resultIdx = resultSchema.fieldIndex(partCol)

    val root = relation.catalogTable.map(t => new Path(t.location))
      .getOrElse(fsRelation.location.rootPaths.head)
    val file = new Path(new Path(root, CacheDir), name)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf()) match {
      case c: ChecksumFileSystem => c.getRawFileSystem // one file, one atomic rename
      case other => other
    }
    val header = Header(partCol, df.schema.json, resultSchema.json)

    val index = fsRelation.location match {
      case c: CatalogFileIndex => c.filterPartitions(Nil)
      case other => other
    }
    val dirs = index.listFiles(Nil, Nil)
    val listed = fingerprints(dirs.flatMap(p =>
      p.files.map(f => p.values.get(partIdx, partType) -> f.fileStatus)))

    val (cached, readState) = read(fs, file, header, partType, resultSchema)
    var state = readState
    val kept = cached.filter { case (v, e) => listed.get(v).contains(e.fingerprint) }
    val changed = listed.keys.filterNot(kept.contains).toSeq

    var fresh = Map.empty[Any, Entry]
    var unstored = Seq.empty[InternalRow]
    var recomputedRows = 0
    if (changed.nonEmpty) {
      // the filter on the partition column prunes the scan to the changed
      // partitions; a scan of one task is read as one partition, so the
      // aggregate above it plans no exchange
      val pruned = if (kept.isEmpty) df else df.where(in(col(partCol), changed, partType))
      val changedSet = changed.toSet
      val oneTask = ScalePolicy.oneScanTask(spark, s"$table/$name", scanTasks(spark, fsRelation,
        dirs.filter(p => changedSet(p.values.get(partIdx, partType)))))
      val query = perPartition(if (oneTask) pruned.coalesce(1) else pruned)
      val toInternal = CatalystTypeConverters.createToCatalystConverter(resultSchema)
      val rows = query.collect().map(r => toInternal(r).asInstanceOf[InternalRow]).toSeq
      recomputedRows = rows.size
      val scanned = fingerprints(scans.collect(query.queryExecution.executedPlan) {
        case s: FileSourceScanExec if s.tableIdentifier == relation.catalogTable.map(_.identifier) =>
          s.selectedPartitions.filePartitionIterator.flatMap(p =>
            p.files.map(f => p.values.get(partIdx, partType) -> f.fileStatus))
      }.flatten)
      val byValue = rows.groupBy(_.get(resultIdx, partType))
      val stored = if (kept.isEmpty) scanned else scanned.view.filterKeys(changed.toSet).toMap
      fresh = stored.map { case (v, fp) => v -> Entry(fp, byValue.getOrElse(v, Nil)) }
      // rows of partitions no file scan listed (a table cached in memory is
      // read by none): served, never stored
      unstored = byValue.view.filterKeys(v => !stored.contains(v)).values.flatten.toSeq
    }
    val entries = kept ++ fresh
    if (fresh.nonEmpty || kept.size < cached.size || state == "unreadable")
      try write(fs, file, header, entries, partType, resultSchema)
      catch {
        case NonFatal(e) =>
          log.warn(s"partitionIncremental: cannot write serving cache $file, " +
            s"serving without it: $e")
          state = "unwritable"
      }

    val report = Report(table, name, listed.size, changed.size, recomputedRows, state)
    log.info(report.toString)
    lastReport = report
    val toScala = CatalystTypeConverters.createToScalaConverter(resultSchema)
    val out = (entries.valuesIterator.flatMap(_.rows) ++ unstored).toSeq
      .sortWith((a, b) => nullsFirst(a.get(resultIdx, partType), b.get(resultIdx, partType)) < 0)
      .map(r => toScala(r).asInstanceOf[Row])
    spark.createDataFrame(out.asJava, resultSchema)
  }

  /** `c IN (values)` over Catalyst partition values; a null value is
    * Hive's default partition, matched with IS NULL. */
  private def in(c: Column, values: Seq[Any], t: DataType): Column = {
    val toScala = CatalystTypeConverters.createToScalaConverter(t)
    val (nulls, present) = values.partition(_ == null)
    val isIn = c.isin(present.map(toScala): _*)
    if (nulls.isEmpty) isIn else isIn || c.isNull
  }

  /** How many tasks Spark's file scan plans over `dirs`: the scan's own
    * split arithmetic over the listed file statuses. */
  private def scanTasks(spark: SparkSession, relation: HadoopFsRelation,
                        dirs: Seq[PartitionDirectory]): Int = {
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val splits = dirs.flatMap(p => p.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
      relation.fileFormat.isSplitable(spark, relation.options, f.getPath), maxSplit, p.values)))
    FilePartition.getFilePartitions(spark, splits.sortBy(-_.length), maxSplit).size
  }

  /** Per partition value, a digest of its data files sorted by path. */
  private def fingerprints(files: Seq[(Any, FileStatus)]): Map[Any, String] =
    files.groupBy(_._1).map { case (v, fs) =>
      val md = MessageDigest.getInstance("SHA-256")
      fs.map(_._2).sortBy(_.getPath.toString).foreach { f =>
        md.update(s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n"
          .getBytes(StandardCharsets.UTF_8))
      }
      v -> HexFormat.of().formatHex(md.digest())
    }

  /** Nulls first, then the natural order of Catalyst's internal values
    * (Int/Long days and micros, UTF8String, Decimal, boxed primitives). */
  private val nullsFirst: (Any, Any) => Int = {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  // ------------------------------------------------------------ file format

  private final case class Header(partCol: String, table: String, result: String)

  private def read(fs: FileSystem, file: Path, header: Header, partType: DataType,
                   resultSchema: StructType): (Map[Any, Entry], String) =
    try {
      val in = fs.open(file)
      val doc = try json.readTree(in) finally in.close()
      if (doc == null || !doc.isObject)
        throw new IOException("not a JSON object")
      if (doc.path("version").asInt(-1) != Version ||
          doc.path("partCol").asText() != header.partCol ||
          doc.path("table").asText() != header.table ||
          doc.path("result").asText() != header.result)
        throw new IOException("written for another format version, table schema, " +
          "partition column or result schema")
      val entries = doc.get("partitions").elements().asScala.map { p =>
        val rows = p.get("rows").elements().asScala.map { r =>
          if (!r.isArray || r.size != resultSchema.length)
            throw new IOException(s"malformed row $r")
          InternalRow.fromSeq(resultSchema.fields.toSeq.zipWithIndex.map {
            case (f, i) => decode(r.get(i), f.dataType)
          })
        }.toSeq
        decode(p.get("value"), partType) -> Entry(p.get("fingerprint").textValue(), rows)
      }.toMap
      if (entries.valuesIterator.exists(_.fingerprint == null))
        throw new IOException("entry without a fingerprint")
      (entries, "hit")
    } catch {
      case _: FileNotFoundException => (Map.empty, "cold")
      case NonFatal(e) =>
        log.warn(s"partitionIncremental: unreadable serving cache $file, " +
          s"recomputing every partition: $e")
        (Map.empty, "unreadable")
    }

  private def write(fs: FileSystem, file: Path, header: Header, entries: Map[Any, Entry],
                    partType: DataType, resultSchema: StructType): Unit = {
    val doc = nodes.objectNode()
    doc.put("version", Version)
    doc.put("partCol", header.partCol)
    doc.put("table", header.table)
    doc.put("result", header.result)
    val parts = doc.putArray("partitions")
    entries.foreach { case (v, e) =>
      val p = parts.addObject()
      p.set[JsonNode]("value", encode(v, partType))
      p.put("fingerprint", e.fingerprint)
      val rows = p.putArray("rows")
      e.rows.foreach { r =>
        val a = rows.addArray()
        resultSchema.fields.zipWithIndex.foreach { case (f, i) =>
          a.add(encode(r.get(i, f.dataType), f.dataType))
        }
      }
    }
    val bytes = json.writeValueAsBytes(doc)
    val tmp = new Path(file.getParent, s".${file.getName}.${UUID.randomUUID()}.tmp")
    try {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      // a filesystem whose rename does not replace (HDFS) takes two steps;
      // a reader in between finds no cache, which is a cold cache
      if (!fs.rename(tmp, file) && !(fs.delete(file, false) && fs.rename(tmp, file)))
        throw new IOException(s"cannot rename $tmp to $file")
    } finally
      try fs.delete(tmp, false) catch { case NonFatal(_) => }
  }

  private def storable(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _: StringType | _: DecimalType => true
    case _ => false
  }

  private def encode(v: Any, t: DataType): JsonNode =
    if (v == null) NullNode.instance
    else t match {
      case BooleanType => BooleanNode.valueOf(v.asInstanceOf[Boolean])
      case ByteType | ShortType | IntegerType | DateType =>
        IntNode.valueOf(v.asInstanceOf[Number].intValue)
      case LongType | TimestampType | TimestampNTZType =>
        LongNode.valueOf(v.asInstanceOf[Long])
      case FloatType | DoubleType => TextNode.valueOf(v.toString) // exact, NaN-safe
      case _: DecimalType => TextNode.valueOf(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
      case _ => TextNode.valueOf(v.toString) // StringType: UTF8String
    }

  private def decode(n: JsonNode, t: DataType): Any = {
    def integral: Long =
      if (n.isIntegralNumber && n.canConvertToLong) n.longValue
      else throw new IOException(s"expected an integer, found $n")
    def text: String =
      if (n.isTextual) n.textValue else throw new IOException(s"expected a string, found $n")
    if (n == null) throw new IOException("missing value")
    else if (n.isNull) null
    else t match {
      case BooleanType =>
        if (n.isBoolean) n.booleanValue else throw new IOException(s"expected a boolean, found $n")
      case ByteType => integral.toByte
      case ShortType => integral.toShort
      case IntegerType | DateType => Math.toIntExact(integral)
      case LongType | TimestampType | TimestampNTZType => integral
      case FloatType => text.toFloat
      case DoubleType => text.toDouble
      case d: DecimalType => Decimal(BigDecimal(text), d.precision, d.scale)
      case _ => UTF8String.fromString(text)
    }
  }
}
