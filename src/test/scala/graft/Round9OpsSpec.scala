package graft

import org.apache.spark.sql.functions._
import graft.operators.{CitationAudit, OtelLogs, Rag}

/** Round-9 retrieval-evaluation harness checks: one planted golden
  * case per VerifyCase verdict rule (rag-orchestrator/eval/metrics.go
  * VerifyCase) plus all three relevance-gate verdicts
  * (internal/usecase/relevance_gate.go). The oracle verifies the
  * end-to-end arithmetic on the driver tables; this spec pins each
  * failure flag firing (and not firing) on a corpus built for it.
  */
class Round9OpsSpec extends SparkSpec {

  /** Planted corpus on the unit circle (2-d embeddings: cosine =
    * included angle), written as parquet so the operator runs its real
    * Tables loaders:
    *  - query 0 at 0° with three keyword-bearing neighbors at 3/6/9° →
    *    every check passes, gate Good.
    *  - query 100 at 90° with its irrelevant doc (101) planted as the
    *    Marginal top-1 and doc 102's prefix forced into the answer →
    *    irrelevant/min-relevant/entities/forbidden all fail.
    *  - query 200 at 180° with only far-away short-titled docs →
    *    answer-length fails, gate Insufficient, and its golden
    *    neighbors (201/202) don't exist → the null-golden paths.
    */
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("rag06spec").toString
    def vec(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val docs = Seq(
      (0L,   "alpha bravo charlie delta echo foxtrot"),
      (1L,   "short one"),
      (2L,   "zebra yankee"),
      (10L,  "alpha bravo charlie delta echo foxtrot golf hotel"),
      (11L,  "alpha bravo charlie delta echo golf hotel india"),
      (12L,  "alpha bravo golf hotel india juliet kilo lima"),
      (100L, "sierra tango uniform victor"),
      (101L, "mike november oscar"),
      (102L, "alpha bravo more"),
      (200L, "papa quebec xyz")).toDF("doc_id", "text")
    val embs = Seq(
      (0L,   vec(1.0, 0.0)),
      (1L,   vec(-0.173648, -0.984808)),
      (2L,   vec(-0.087156, -0.996195)),
      (10L,  vec(0.998630, 0.052336)),
      (11L,  vec(0.994522, 0.104528)),
      (12L,  vec(0.987688, 0.156434)),
      (100L, vec(0.0, 1.0)),
      (101L, vec(0.866025, 0.5)),
      (102L, vec(0.0, -1.0)),
      (200L, vec(-1.0, 0.0))).toDF("vec_id", "embedding")
    // the loaders check every declared column; rag06 reads only the ids,
    // text and embedding, so the rest carry placeholders
    docs.withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    embs.withColumn("label", lit(0)).coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val byQuery = Rag.retrievalEval(spark, dir).collect()
    .map(r => r.getAs[Long]("query_id") -> r).toMap

  test("rag06 all-pass case: every verdict rule passes, gate Good, metrics exact") {
    val r = byQuery(0L)
    assert(r.getAs[Int]("passed") == 1)
    assert(r.getAs[Int]("n_failures") == 0)
    assert(r.getAs[String]("relevance_verdict") == "Good")
    // top-3 = the three alpha docs, every title carries both keywords:
    // recall 3/2 (the reference's RecallAtK divides by |keywords|),
    // DCG = IDCG, top-1 relevant, both cited titles relevant, both
    // entities grounded in answer + context
    assert(r.getAs[Double]("recall_at_3") == 1.5)
    assert(r.getAs[Double]("ndcg_at_3") == 1.0)
    assert(r.getAs[Double]("top1_precision") == 1.0)
    assert(r.getAs[Double]("citation_correctness") == 1.0)
    assert(r.getAs[Double]("faithfulness") == 1.0)
  }

  test("rag06 irrelevant/min-relevant/entities/forbidden rules fire, gate Marginal") {
    val r = byQuery(100L)
    // top-1 is doc 101 (cos 0.5, no lexical overlap → score 0.35):
    // Marginal band, and 101 is exactly the golden irrelevant title
    assert(r.getAs[String]("relevance_verdict") == "Marginal")
    assert(r.getAs[Int]("f_irrelevant") == 1)
    // no retrieved title carries sierra/tango → min-relevant + entities
    assert(r.getAs[Int]("f_min_relevant") == 1)
    assert(r.getAs[Int]("f_entities") == 1)
    // doc 102's 12-char prefix "alpha bravo " appears in the answer
    // via the retrieved alpha titles
    assert(r.getAs[Int]("f_forbidden") == 1)
    assert(r.getAs[Int]("f_answer_len") == 0)
    assert(r.getAs[Int]("n_failures") == 4)
    assert(r.getAs[Int]("passed") == 0)
    // nothing relevant anywhere in the pool → the IDCG=0 branch
    assert(r.getAs[Double]("ndcg_at_3") == 0.0)
    assert(r.getAs[Double]("recall_at_3") == 0.0)
    assert(r.getAs[Double]("top1_precision") == 0.0)
  }

  test("rag06 answer-length rule fires, gate Insufficient, absent goldens skip") {
    val r = byQuery(200L)
    // best candidate is doc 1 at cos 0.174 → score 0.122 < 0.25
    assert(r.getAs[String]("relevance_verdict") == "Insufficient")
    // answer = "short one | zebra yankee | alpha bravo more" (43 chars)
    assert(r.getAs[Int]("f_answer_len") == 1)
    assert(r.getAs[Int]("f_min_relevant") == 1)
    assert(r.getAs[Int]("f_entities") == 1)
    // docs 201/202 don't exist: the irrelevant-title and forbidden
    // checks have no golden → both skip (null-safe), like VerifyCase
    // skipping unset expectations
    assert(r.getAs[Int]("f_irrelevant") == 0)
    assert(r.getAs[Int]("f_forbidden") == 0)
    assert(r.getAs[Int]("n_failures") == 3)
  }

  test("rag07 aggregate report: counts, exact-unit means, gate distribution, BM25-zero") {
    val r = Rag.evalReport(spark, dir).collect().head
    assert(r.getAs[Long]("case_count") == 3L)
    assert(r.getAs[Long]("pass_count") == 1L)
    assert(r.getAs[Long]("fail_count") == 2L)
    // one case per gate verdict by construction
    assert(r.getAs[Long]("n_good") == 1L)
    assert(r.getAs[Long]("n_marginal") == 1L)
    assert(r.getAs[Long]("n_insufficient") == 1L)
    // recalls 1.5 / 0 / 0 → mean round(15000/3)/1e4
    assert(r.getAs[Double]("mean_recall_at_3") == 0.5)
    assert(r.getAs[Double]("mean_top1_precision") == 0.3333)
    // queries 100 and 200 share no token with ANY candidate — the
    // lexical retriever comes up empty for 2 of 3 cases
    assert(r.getAs[Double]("bm25_zero_rate") == 0.6667)
  }

  test("qe03 citation audit: dedup, skip rules, and the no-denominator NULL") {
    import spark.implicits._
    // report A cites S1 twice (counts once), an unmapped S9, and the
    // empty-source_id S3; report B has NO valid markers at all
    val bodies = Seq(
      ("A", "x [S1] y [S2] again [S1] ghost [S9] empty [S3]"),
      ("B", "no citations here [S9]")).toDF("source", "body")
    val sourceMap = Seq(
      ("A", "S1", "doc-1", Some(1L)),
      ("A", "S2", "doc-2", Some(2L)),
      ("A", "S3", "", None: Option[Long]),
      ("B", "S1", "doc-7", Some(7L))).toDF("source", "short_id", "source_id", "doc_id")
    // doc 1 has no language → und; doc 2 is English and in gold
    val articles = Seq((1L, "und"), (2L, "en"), (7L, "en")).toDF("doc_id", "lang_c")
    val gold = Seq("doc-2").toDF("source_id")
    val out = CitationAudit.citationAuditOn(bodies, sourceMap, articles, gold).collect()
    val a = out.filter(_.getAs[String]("source") == "A")
      .map(r => r.getAs[String]("lang") -> r).toMap
    // A resolves exactly {S1→doc-1, S2→doc-2}: precision 1/2, each
    // language half the mix
    assert(a.keySet == Set("und", "en"))
    assert(a("und").getAs[Long]("n_resolved") == 2L)
    assert(a("und").getAs[Double]("citation_precision") == 0.5)
    assert(a("und").getAs[Double]("lang_share") == 0.5)
    assert(a("en").getAs[Double]("lang_share") == 0.5)
    // B resolves nothing: one row, NULL precision (None, not 0), no mix
    val b = out.filter(_.getAs[String]("source") == "B")
    assert(b.length == 1)
    assert(b.head.getAs[Long]("n_resolved") == 0L)
    assert(b.head.isNullAt(b.head.fieldIndex("citation_precision")))
    assert(b.head.isNullAt(b.head.fieldIndex("lang")))
  }

  test("qe04 recap quality: every scorer rule on planted summaries") {
    import spark.implicits._
    import graft.operators.RecapQuality
    val long800 = "x" * 798 + " た"       // plateau length, good ending
    val mid300 = "y" * 300                 // ramp length, bad ending
    val rows = Seq(
      // perfect grounding; marker stripped before the ending check
      (1L, Seq("alpha beta た [1]", "gamma delta た [2]"), Seq(1, 2)),
      // dangling marker + unused ref → empty intersection
      (2L, Seq("foo [1]"), Seq(2)),
      // identical bullets → bigram-multiset Jaccard 1.0
      (3L, Seq("same text here", "same text here"), Seq(1)),
      // readability arithmetic: 800-char plateau vs 300-char ramp
      (4L, Seq(long800, mid300), Seq.empty[Int]),
      // all four structure families + >=5 entities in one bullet
      (5L, Seq("Acme Corp 発表した 背景として 今後 2024年5月 45% 120円 99"), Seq.empty[Int]))
      .toDF("output_id", "bullets", "ref_ids")
    val out = RecapQuality.recapQualityOn(rows).collect()
      .map(r => r.getAs[Long]("output_id") -> r).toMap
    assert(out(1L).getAs[Double]("source_grounding") == 1.0)
    // ending check strips the trailing [n]: both bullets end with た
    assert(out(1L).getAs[Double]("readability") == 0.3)
    assert(out(2L).getAs[Double]("source_grounding") == 0.0)
    assert(out(3L).getAs[Double]("redundancy") == 1.0)
    // markers-present-refs-absent → grounding 0 (the broken case)
    assert(out(3L).getAs[Double]("source_grounding") == 0.0)
    // (1.0·0.7 + 1.0·0.3 on the 800-char bullet; 0.5·0.7 + 0.3·0.3 on
    // the 300-char one) / 2 = 0.72
    assert(out(4L).getAs[Double]("readability") == 0.72)
    assert(out(5L).getAs[Double]("structure") == 1.0)
    assert(out(5L).getAs[Double]("entity_density") == 1.0)
    // a single bullet has no pairs → redundancy 0
    assert(out(5L).getAs[Double]("redundancy") == 0.0)
  }

  test("tg02 tag quality: raw-count denominators, case folding, substring diversity penalty") {
    import spark.implicits._
    import graft.operators.TagGraph
    val rows = Seq(
      // 6 predictions with a duplicate; 2 of the first 5 match the
      // golden set case-insensitively. p5 = 2/min(6,5); p10 = 2/min(6,10)
      (1L, Seq("Spark", "spark", "batch", "window", "vector", "stream"),
        Seq("SPARK", "WINDOW", "ABSENT")),
      // empty predictions → all zeros (and the empty-rate numerator)
      (2L, Seq.empty[String], Seq("ANY")),
      // diversity: all unique but "a" ⊂ "ab" ⊂ "abc" → 3 substring
      // pairs → 0.3 penalty; uniqueness 1.0 → 0.7
      (3L, Seq("a", "ab", "abc"), Seq.empty[String]),
      // penalty caps at 0.5: six nested tags → 15 pairs → 1.5 → 0.5
      (4L, Seq("x", "xy", "xyz", "xyzw", "xyzwv", "xyzwvu"), Seq.empty[String]))
      .toDF("doc_id", "pred", "expected")
    val out = TagGraph.tagQualityOn(rows).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("precision_at_5") == 0.4)   // 2/5
    assert(out(1L).getAs[Double]("precision_at_10") == 0.333333) // 2/6
    assert(out(1L).getAs[Double]("recall_at_5") == 0.666667) // 2/3 distinct expected
    // duplicate "spark" drops uniqueness to 5/6; no substring pairs
    // beyond the dup pair itself ("spark" ⊆ "spark" → one 0.1 penalty)
    assert(out(1L).getAs[Double]("diversity") == 0.733333)
    assert(out(2L).getAs[Double]("precision_at_5") == 0.0)
    assert(out(2L).getAs[Double]("recall_at_5") == 0.0)
    assert(out(2L).getAs[Double]("diversity") == 0.0)
    assert(out(3L).getAs[Double]("diversity") == 0.7)
    assert(out(4L).getAs[Double]("diversity") == 0.5)
  }

  test("es09 wear bands: every boundary rule on planted footprints") {
    import spark.implicits._
    import graft.operators.Trail
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def fp(u: Long, item: String, verb: String, id: Long,
           dwell: Double = 0.0, legacy: Boolean = false) =
      (u, item, verb, t0, id, dwell, legacy)
    val base = Seq(
      fp(1L, "a", "walked", 1L),                          // 1 contact → thin
      fp(1L, "b", "walked", 2L), fp(1L, "b", "walked", 3L), // 2 contacts → worn
      fp(1L, "c", "walked", 4L, dwell = 150.0),           // engaged at threshold, 1 contact → worn
      fp(1L, "d", "asked", 5L),                           // ask → deep regardless of count
      fp(1L, "e", "walked", 6L), fp(1L, "e", "walked", 7L),
      fp(1L, "e", "walked", 8L), fp(1L, "e", "walked", 9L), // 4 raw contacts → deep
      fp(1L, "f", "walked", 10L, legacy = true),
      fp(1L, "f", "acted", 11L))                          // engaged (legacy) + 2 contacts → deep
      .toDF("user_id", "item_key", "verb", "ts", "event_id", "dwell", "legacy_engaged")
    val out = Trail.trailWearOn(base).collect()
      .map(r => (r.getAs[String]("item_key"), r.getAs[String]("verb")) -> r).toMap
    def wearOf(item: String, verb: String) = out((item, verb)).getAs[String]("wear")
    assert(wearOf("a", "walked") == "thin")
    assert(wearOf("b", "walked") == "worn")
    assert(wearOf("c", "walked") == "worn")
    assert(wearOf("d", "asked") == "deep")
    assert(wearOf("e", "walked") == "deep")
    // wear is an ITEM property: both collapsed verbs of item f read deep
    assert(wearOf("f", "walked") == "deep" && wearOf("f", "acted") == "deep")
    // the e-item collapses to ONE spine row carrying count 4 and the
    // latest contact as its exemplar
    val e = out(("e", "walked"))
    assert(e.getAs[Long]("contact_count") == 4L)
    assert(e.getAs[Long]("last_event_id") == 9L)
  }

  /** A planted otel_logs frame exercising what the ev33/ev34 oracles
    * shortcut: the attribute-map gates themselves.
    */
  private def plantedOtel = {
    import spark.implicits._
    val rows = Seq(
      // full http row, parseable numerics
      ("svc", 9, Map("http.method" -> "GET", "http.route" -> "/a",
        "http.status_code" -> "200", "http.response.body.size" -> "10",
        "http.request.duration" -> "1.5", "alt.ai.pipeline" -> "rag",
        "alt.processing.stage" -> "fetch", "alt.feed.id" -> "feed-1")),
      // http.method PRESENT but EMPTY — 006's != '' gate must drop it
      ("svc", 9, Map("http.method" -> "", "http.route" -> "/a",
        "http.status_code" -> "200")),
      // http.method ABSENT — also dropped
      ("svc", 9, Map("alt.ai.pipeline" -> "rag", "alt.processing.stage" -> "fetch")),
      // malformed numerics → OrZero, row KEPT
      ("svc", 17, Map("http.method" -> "POST", "http.route" -> "/b",
        "http.status_code" -> "NA", "http.response.body.size" -> "x",
        "http.request.duration" -> "y", "exception.type" -> "E1")),
      // severity 16 is below the error-log gate; 21 is above
      ("svc", 16, Map("http.method" -> "GET", "http.route" -> "/a",
        "http.status_code" -> "500")),
      ("svc", 21, Map("exception.type" -> "E2", "alt.feed.id" -> "feed-2",
        "alt.ai.pipeline" -> "rag", "alt.processing.stage" -> "fetch")))
    rows.zipWithIndex.map { case ((svc, sev, m), i) => (i.toLong, svc, sev, m) }
      .toDF("event_id", "service_name", "severity_number", "attrs")
      .select(
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
        concat(lit("t"), col("event_id")).as("trace_id"),
        concat(lit("s"), col("event_id")).as("span_id"),
        col("service_name"), col("severity_number"),
        when(col("severity_number") >= 17, "ERROR").otherwise("INFO").as("severity_text"),
        lit("body").as("body"), col("attrs"))
  }

  test("ev33 extraction gates: empty/absent http.method drop, OrZero keeps, severity >= 17") {
    val http = OtelLogs.httpRequests(plantedOtel).collect()
    // rows 0, 3, 4 carry a non-empty http.method
    assert(http.length == 3)
    val byRoute = http.groupBy(_.getAs[String]("http_route"))
    // the malformed row kept with zeroed numerics
    val b = byRoute("/b").head
    assert(b.getAs[Int]("http_status_code") == 0)
    assert(b.getAs[Long]("response_size") == 0L)
    assert(b.getAs[Double]("request_duration") == 0.0)
    val a0 = byRoute("/a").map(_.getAs[Int]("http_status_code")).sorted
    assert(a0.sameElements(Array(200, 500)))
    // error logs: severity 17 and 21 only, with their exception types
    val errs = OtelLogs.errorLogs(plantedOtel).collect()
    assert(errs.length == 2)
    assert(errs.map(_.getAs[String]("exception_type")).sorted.sameElements(Array("E1", "E2")))
  }

  test("ev34 business context: absent alt.* keys read as empty, like a CH map default") {
    val ctx = OtelLogs.businessContext(plantedOtel).collect()
    assert(ctx.length == 6)
    val noBiz = ctx.filter(_.getAs[String]("ai_pipeline") == "")
    // rows 1, 3, 4 carry no alt.* keys at all
    assert(noBiz.length == 3)
    assert(noBiz.forall(_.getAs[String]("processing_stage") == ""))
    val withBiz = ctx.filter(_.getAs[String]("ai_pipeline") == "rag")
    assert(withBiz.length == 3)
    assert(withBiz.map(_.getAs[String]("feed_id")).sorted.sameElements(Array("", "feed-1", "feed-2")))
  }

  test("qe05 run comparison: lower-is-better inversion, strict improvement, degraded rate") {
    import graft.operators.RecapQuality
    import spark.implicits._
    // even ids = before, odd = after; hand-built axis scores
    val scores = Seq(
      //             sg    red    read  struct ent
      (0L, 3, 0.50, 0.20, 0.40, 0.30, 0.10), // before
      (2L, 3, 0.00, 0.40, 0.40, 0.30, 0.10), // before, DEGRADED (sg=0)
      (1L, 3, 0.75, 0.10, 0.40, 0.20, 0.10), // after
      (3L, 3, 0.25, 0.30, 0.40, 0.20, 0.10)) // after
      .toDF("output_id", "n_bullets", "source_grounding", "redundancy",
        "readability", "structure", "entity_density")
    val out = RecapQuality.compareRuns(scores).collect()
      .map(r => r.getString(0) -> r).toMap
    val sg = out("source_grounding") // 0.25 mean → 0.50 mean
    assert(sg.getDouble(1) == 0.25 && sg.getDouble(2) == 0.50 && sg.getBoolean(4))
    val red = out("redundancy") // 0.30 → 0.20: DROP improves (lower-is-better)
    assert(red.getDouble(3) == -0.10 && red.getBoolean(4))
    val rd = out("readability") // 0.40 → 0.40: delta 0 is NOT an improvement
    assert(rd.getDouble(3) == 0.0 && !rd.getBoolean(4))
    val st = out("structure") // 0.30 → 0.20: drop on a higher-is-better axis
    assert(!st.getBoolean(4))
    // degraded: 1 of 2 before traces has sg = 0; none after
    assert(sg.getDouble(5) == 0.5 && sg.getDouble(6) == 0.0 && sg.getDouble(7) == -0.5)
    assert(sg.getLong(8) == 2 && sg.getLong(9) == 2)
  }
}
