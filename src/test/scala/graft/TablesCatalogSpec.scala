package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The declared catalog in `graft.Tables`: every loader's output schema
  * is pinned at all three scale factors, its rows equal those of the
  * schema-inferring loaders it replaced, and building a loader's
  * DataFrame starts no Spark job, on the first call or any later one. */
class TablesCatalogSpec extends SparkSpec {
  private val scales =
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"${new java.io.File(sfDir).getParent}/$sf")

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings)

  private val schemas = Map(
    "region" -> "struct<r_regionkey:int,r_name:string>",
    "nation" -> "struct<n_nationkey:int,n_name:string,n_regionkey:int>",
    "customer" ->
      "struct<c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string>",
    "supplier" -> "struct<s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double>",
    "part" -> ("struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int," +
      "p_retailprice:double>"),
    "orders" -> ("struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double," +
      "o_orderdate:timestamp,o_orderpriority:string>"),
    "lineitem" -> ("struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string," +
      "l_linestatus:string,l_shipdate:timestamp>"),
    "events" ->
      "struct<event_id:bigint,ts:timestamp,user_id:bigint,event_type:string,value:double,props:string>",
    "documents" -> "struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>",
    "embeddings" -> "struct<vec_id:bigint,embedding:array<float>,label:int>")

  /** Jobs started while `body` runs. Listener events arrive
    * asynchronously, so a marker job is run after `body`: once the
    * listener has seen the marker start, it has seen every earlier job. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"tables-catalog-marker-${System.nanoTime}"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** A copy of a scale factor's files under a new path, which no
    * earlier load can have verified. */
  private def freshCopy(dir: String): String = {
    val to = Files.createTempDirectory("tables-catalog")
    loaders.foreach { case (t, _) =>
      Files.copy(Paths.get(s"$dir/$t.parquet"), to.resolve(s"$t.parquet"))
    }
    to.toString
  }

  test("every loader's output schema is pinned at sf0.001, sf0.01 and sf0.1") {
    for (dir <- scales; (t, load) <- loaders)
      assert(load(spark, dir).schema.simpleString == schemas(t), s"$t at $dir")
  }

  test("every loader returns the rows and schema of the schema-inferring loader it replaced") {
    for (dir <- scales.take(2); (t, load) <- loaders) {
      val now = load(spark, dir)
      val before = LegacyTables.load(spark.newSession(), dir, t)
      assert(now.schema == before.schema, s"$t at $dir")
      assert(now.count() == before.count(), s"$t at $dir")
      assert(now.exceptAll(before).isEmpty && before.exceptAll(now).isEmpty, s"$t at $dir")
    }
  }

  test("a loader's schema starts no Spark job, on the first call and warm") {
    // control: the listener does see the job that schema inference starts
    assert(jobsDuring(LegacyTables.load(spark.newSession(), sfDir, "orders").schema) >= 1)
    for (dir <- scales) {
      val fresh = freshCopy(dir)
      try for ((t, load) <- loaders) {
        assert(jobsDuring(load(spark, fresh).schema) == 0, s"first $t at $dir")
        assert(jobsDuring(load(spark, fresh).schema) == 0, s"warm $t at $dir")
      } finally FileUtils.deleteDirectory(new java.io.File(fresh))
    }
  }

  test("events leaves the session's nanosAsLong conf alone when ts is timestamp[us]") {
    val s = spark.newSession()
    Tables.events(s, sfDir).schema
    assert(!s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false").toBoolean)
  }
}
