package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}

/** The loaders as they were before the declared catalog: schema
  * inference on every call, then casts to the reference types. Kept as
  * the reference the catalog's loaders must reproduce value for value. */
object LegacyTables {
  private def ntzToInstant(df: DataFrame): DataFrame =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }.foldLeft(df)((d, c) => d.withColumn(c, d.col(c).cast("timestamp")))

  private def withCanonicalTypes(df: DataFrame, casts: (String, String)*): DataFrame =
    casts.foldLeft(df) { case (d, (c, t)) =>
      if (d.columns.contains(c) && d.schema(c).dataType.simpleString != t) d.withColumn(c, d.col(c).cast(t))
      else d
    }

  def load(s: SparkSession, dir: String, table: String): DataFrame = {
    if (table == "events") s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/$table.parquet")
    table match {
      case "orders" | "lineitem" => ntzToInstant(raw)
      case "events" =>
        val normalized = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
          case _ => ntzToInstant(raw)
        }
        withCanonicalTypes(normalized, "event_id" -> "bigint", "user_id" -> "bigint", "value" -> "double")
      case "documents" => withCanonicalTypes(raw, "doc_id" -> "bigint", "n_chars" -> "bigint")
      case "embeddings" =>
        withCanonicalTypes(raw, "vec_id" -> "bigint", "embedding" -> "array<float>", "label" -> "int")
      case _ => raw
    }
  }
}

/** Files that drift from the declared schemas: each encoding the loaders
  * absorb loads to the values the earlier normalization produced, any
  * other drift fails with an error naming the table and the column, and
  * a file rewritten in place is checked again. */
class TablesDriftSpec extends SparkSpec {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tempDir(): JPath = Files.createTempDirectory("tables-drift")

  /** Writes `df` as `dir/table.parquet`: a directory of part files, as
    * Spark writes it, or with `single` one file at exactly that path. */
  private def write(df: DataFrame, dir: JPath, table: String, single: Boolean = false): Unit = {
    val target = dir.resolve(s"$table.parquet")
    if (!single) df.coalesce(1).write.parquet(target.toString)
    else {
      val staging = Files.createTempDirectory("tables-drift-staging").resolve("t")
      df.coalesce(1).write.parquet(staging.toString)
      val part = Files.list(staging).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  /** The variant must load to the legacy loader's values on the same
    * file, and, being lossless, to the values of the original table. */
  private def assertAbsorbed(dir: JPath, table: String,
                             load: (SparkSession, String) => DataFrame): Unit = {
    val s = spark.newSession()
    val now = load(s, dir.toString)
    assertSame(now, LegacyTables.load(spark.newSession(), dir.toString, table))
    assertSame(now, load(spark, sfDir))
  }

  private def driftError(dir: JPath, load: (SparkSession, String) => DataFrame): String =
    intercept[IllegalStateException](load(spark, dir.toString)).getMessage

  test("events.ts as INT64 nanoseconds loads to the instants the nanos path produced") {
    val dir = tempDir()
    val rows = Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .collect()
    val schema = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = new Configuration()
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(dir.resolve("events.parquet").toString), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      // sub-microsecond digits, which the integral division to micros drops
      if (!r.isNullAt(0)) g.add("event_id", r.getLong(0))
      if (!r.isNullAt(1)) g.add("ts", r.getLong(1) * 1000 + 789)
      if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      writer.write(g)
    } finally writer.close()

    val s = spark.newSession()
    val now = Tables.events(s, dir.toString)
    assert(s.conf.get(NanosAsLong).toBoolean, "nanos needs the legacy conf at read time")
    assertSame(now, LegacyTables.load(spark.newSession(), dir.toString, "events"))
    assertSame(now, Tables.events(spark, sfDir))
  }

  test("events.ts as timestamp[us], with and without isAdjustedToUTC, loads unchanged") {
    val ntz = tempDir()
    write(Tables.events(spark, sfDir).withColumn("ts", col("ts").cast("timestamp_ntz")), ntz, "events")
    assertAbsorbed(ntz, "events", Tables.events)
    val utc = tempDir()
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    write(Tables.events(s, sfDir), utc, "events")
    assertAbsorbed(utc, "events", Tables.events)
  }

  test("int32 doc_id and vec_id widen to bigint") {
    val docs = tempDir()
    write(Tables.documents(spark, sfDir).withColumn("doc_id", col("doc_id").cast("int")), docs, "documents")
    assertAbsorbed(docs, "documents", Tables.documents)
    val embs = tempDir()
    write(Tables.embeddings(spark, sfDir).withColumn("vec_id", col("vec_id").cast("int")), embs, "embeddings")
    assertAbsorbed(embs, "embeddings", Tables.embeddings)
  }

  test("a double embedding loads back to the same array<float>") {
    val dir = tempDir()
    write(Tables.embeddings(spark, sfDir).withColumn("embedding", col("embedding").cast("array<double>")),
      dir, "embeddings")
    assertAbsorbed(dir, "embeddings", Tables.embeddings)
  }

  test("unknown drift fails with an error naming the dir, table, column and both types") {
    val strIds = tempDir()
    write(Tables.events(spark, sfDir).withColumn("user_id", col("user_id").cast("string")), strIds, "events")
    val e1 = driftError(strIds, Tables.events)
    Seq(strIds.toString, "table events", "user_id found string, expected bigint").foreach(w =>
      assert(e1.contains(w), e1))

    val noTax = tempDir()
    write(Tables.lineitem(spark, sfDir).drop("l_tax"), noTax, "lineitem")
    val e2 = driftError(noTax, Tables.lineitem)
    Seq("table lineitem", "l_tax is missing (expected double)").foreach(w => assert(e2.contains(w), e2))

    val extra = tempDir()
    write(Tables.documents(spark, sfDir).withColumn("title", col("text")), extra, "documents")
    val e3 = driftError(extra, Tables.documents)
    Seq("table documents", "title (string) is not declared").foreach(w => assert(e3.contains(w), e3))
  }

  test("a file rewritten in place at the same path is checked again") {
    val dir = tempDir()
    val docs = Tables.documents(spark, sfDir)
    write(docs.withColumn("doc_id", col("doc_id").cast("int")), dir, "documents", single = true)
    assertSame(Tables.documents(spark, dir.toString), docs)
    write(docs.withColumn("doc_id", col("doc_id").cast("string")), dir, "documents", single = true)
    assert(driftError(dir, Tables.documents).contains("doc_id found string, expected bigint"))
    write(docs.filter(col("doc_id") < 10), dir, "documents", single = true)
    assertSame(Tables.documents(spark, dir.toString), docs.filter(col("doc_id") < 10))
  }
}
