package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DataType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All graft operators take these as inputs. Dimension tables
  * (region/nation/supplier/part/customer at TPC-H proportions) stay small
  * relative to the facts at any scale factor and are broadcast at join
  * sites; fact tables (lineitem/orders/events/documents/embeddings) are
  * scanned with predicate + column pushdown (keep projections narrow so
  * the parquet reader prunes columns).
  *
  * The ten schemas are declared here, once. A loader reads with its
  * declared schema, so building a DataFrame starts no Spark job (schema
  * inference would start one per call). Instead, the first load of each
  * file reads its parquet footer on the driver and checks it against the
  * declaration; the verdict is cached per (path, length, mtime), so a
  * file rewritten in place is checked again.
  */
object Tables {
  /** The tables as their files store them. Timestamps are written
    * without isAdjustedToUTC and so read as TIMESTAMP_NTZ; the loaders
    * return them as TIMESTAMP (see `outType`). */
  private val declared: Map[String, StructType] = Seq(
    "region"     -> "r_regionkey INT, r_name STRING",
    "nation"     -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer"   -> "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier"   -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part"       -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
                     "p_retailprice DOUBLE"),
    "orders"     -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
                     "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem"   -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
                     "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
                     "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events"     -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, " +
                     "props STRING"),
    "documents"  -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }.toMap

  /** INT64 TIMESTAMP(NANOS): Spark 4 refuses it as a timestamp and reads
    * it as a bigint only under the legacy nanosAsLong conf. */
  private val Nanos = "bigint (INT64 TIMESTAMP(NANOS))"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Other encodings a testdata regeneration has shipped (events.ts, in
    * round 6) or could plausibly ship (int32 vs int64 ids, float vs double
    * values and embeddings), by column. Each is cast to the declared type.
    * The contract is "one type per column for every operator and oracle",
    * not "never lose precision": double embeddings and long labels are
    * narrowed to the declared array<float>/int. Anything else fails. */
  private val accepted: Map[String, Set[String]] =
    Seq("event_id", "user_id", "doc_id", "n_chars", "vec_id").map(_ -> Set("int")).toMap ++ Map(
      "value" -> Set("float"), "embedding" -> Set("array<double>"), "label" -> Set("bigint"),
      "o_orderdate" -> Set("timestamp"), "l_shipdate" -> Set("timestamp"),
      "ts" -> Set("timestamp", Nanos))

  /** Sessions run in UTC, so re-tagging TIMESTAMP_NTZ wall-clock micros
    * as TIMESTAMP is value-identical in both engines (DuckDB reads the
    * file directly either way); every unix_timestamp / getAs[Timestamp]
    * site expects an instant. */
  private def outType(t: DataType): DataType = if (t == TimestampNTZType) TimestampType else t

  /** A footer that passed the check: the schema to read the file with
    * (the declared one, with each accepted variant's found type in its
    * place) and the columns stored as INT64 nanoseconds. */
  private final case class Verified(read: StructType, nanos: Set[String])

  private val verified = new ConcurrentHashMap[(String, Long, Long), Verified]()

  private def load(s: SparkSession, dir: String, table: String): DataFrame = {
    val path = new Path(s"$dir/$table.parquet")
    val conf = s.sparkContext.hadoopConfiguration
    val file = footerFile(path.getFileSystem(conf), path)
    val v = verified.computeIfAbsent((file.getPath.toString, file.getLen, file.getModificationTime),
      _ => verify(dir, table, file, conf))
    if (v.nanos.nonEmpty && !s.conf.get(NanosAsLong, "false").toBoolean) s.conf.set(NanosAsLong, "true")
    val raw = s.read.schema(v.read).parquet(path.toString)
    // one select brings every column to its declared output type
    val out = declared(table).fields.map(f => f.copy(dataType = outType(f.dataType)))
    if (v.read.fields.sameElements(out)) raw
    else raw.select(v.read.fields.zip(out).map { case (f, o) =>
      if (v.nanos(f.name)) timestamp_micros(expr(s"`${f.name}` div 1000")).as(f.name)
      else if (f.dataType == o.dataType) col(f.name)
      else col(f.name).cast(o.dataType).as(f.name)
    }.toSeq: _*)
  }

  /** The file whose footer Spark's own schema inference would read: the
    * path itself or, in a directory without summary files (Spark writes
    * none by default), the first data file by path. */
  private def footerFile(fs: FileSystem, path: Path): FileStatus = {
    val st = fs.getFileStatus(path)
    if (!st.isDirectory) st
    else {
      def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap { c =>
        val name = c.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (c.isDirectory) leaves(c.getPath) else Seq(c)
      }
      leaves(path).sortBy(_.getPath.toString).headOption
        .getOrElse(throw new IllegalStateException(s"graft.Tables: $path has no parquet file"))
    }
  }

  private def verify(dir: String, table: String, file: FileStatus, conf: Configuration): Verified = {
    val parquet = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData.getSchema
    val nanos = parquet.getFields.asScala.collect { case f if (f.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
      case _ => false
    }) => f.getName }.toSet
    val found = new ParquetToSparkSchemaConverter(nanosAsLong = true).convert(parquet)
    def typeName(name: String) = if (nanos(name)) Nanos else found(name).dataType.simpleString
    val want = declared(table)
    val problems =
      want.fields.toSeq.flatMap { f =>
        val expected = f.dataType.simpleString
        if (!found.fieldNames.contains(f.name)) Some(s"column ${f.name} is missing (expected $expected)")
        else if (typeName(f.name) == expected || accepted.get(f.name).exists(_(typeName(f.name)))) None
        else Some(s"column ${f.name} found ${typeName(f.name)}, expected $expected")
      } ++ found.fieldNames.filterNot(want.fieldNames.contains).map(n =>
        s"column $n (${typeName(n)}) is not declared")
    if (problems.nonEmpty)
      throw new IllegalStateException(
        s"graft.Tables: $dir table $table (${file.getPath}) does not match its declared schema: " +
          problems.mkString("; "))
    Verified(StructType(want.fields.map(f => f.copy(dataType = found(f.name).dataType))), nanos)
  }

  def region(s: SparkSession, dir: String): DataFrame     = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame     = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame   = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame     = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame   = load(s, dir, "lineitem")
  /** events.ts has shipped as nanosecond int64 and as plain
    * timestamp[us]; both normalize to a microsecond TIMESTAMP
    * bit-identical to DuckDB's CAST(ts AS TIMESTAMP), which the oracles
    * use. */
  def events(s: SparkSession, dir: String): DataFrame     = load(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame  = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}
