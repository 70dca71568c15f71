package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Ev

/** Structured-Streaming extension surface: watermarked windowed aggregation
  * and stateful gap sessionization over an in-memory stream, checked
  * against the equivalent batch computation (the streaming twin of the
  * differential-oracle spine).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(4, 4).appName("graft-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(minutes: Long): Timestamp =
    new Timestamp(minutes * 60L * 1000L)

  test("watermarked tumbling window finalizes once the watermark passes") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[Ev]
    val q = StreamOps.windowedAgg(input.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    try {
      // Two users inside hour 0; then an event far ahead to advance the
      // watermark past hour 0's end (60 min + 30 min watermark).
      input.addData(Ev(1, ts(5), 1.0), Ev(1, ts(20), 2.0), Ev(2, ts(40), 5.0))
      q.processAllAvailable()
      input.addData(Ev(1, ts(200), 9.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .select(col("user_id"), col("n_events"), col("total_value"))
        .orderBy(col("user_id")).collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // hour-0 windows are final; the ts(200) window is still open.
      assert(rows == Seq((1L, 2L, 3.0), (2L, 1L, 5.0)), rows.toString)
    } finally q.stop()
  }

  test("out-of-order within-gap event extends the session backwards") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionize(input.toDS(), gapMinutes = 30, "10 minutes")
      .writeStream.format("memory").queryName("sessions_ooo")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts(100), 1.0))
      q.processAllAvailable() // watermark -> 90min: ts(95) is NOT late yet
      input.addData(Ev(1, ts(95), 2.0))
      q.processAllAvailable()
      input.addData(Ev(99, ts(1000), 0.0)) // advance watermark, fire timeout
      q.processAllAvailable()
      val got = spark.table("sessions_ooo")
        .filter(col("user_id") === 1)
        .select(col("session_start"), col("n_events"), col("total_value"))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      assert(got == Seq((ts(95), 2L, 3.0)), got.toString)
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions; matches batch twin") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val gapMin = 30
    // NOTE: keep every ts strictly after epoch 0 — the initial watermark is
    // 0, and the stateful operator drops input rows AT or before it.
    val evs = Seq(
      Ev(1, ts(60), 1.0), Ev(1, ts(70), 2.0),         // session A (user 1)
      Ev(1, ts(120), 4.0),                            // session B (gap 50')
      Ev(2, ts(65), 7.0))                             // session C (user 2)
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionize(input.toDS(), gapMin, "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      // Advance the watermark far past every session's timeout.
      input.addData(Ev(99, ts(1000), 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select(col("user_id"), col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      assert(got == Seq((1L, 1L, 4.0), (1L, 2L, 3.0), (2L, 1L, 7.0)),
        got.toString)

      // Batch twin: same gap logic via window lag + running sum.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val batch = evs.toDF()
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_sess", when(col("prev").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev")) >
            gapMin * 60L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_sess")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
        .filter(col("user_id") =!= 99)
        .select(col("user_id"), col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      assert(got == batch, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("interval-island stream merges overlapping intervals; matches " +
    "batch p15 cummax twin") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val winMin = 10
    val evs = Seq(
      Ev(1, ts(60), 0), Ev(1, ts(65), 0), Ev(1, ts(72), 0), // island [60,82)
      Ev(1, ts(100), 0),                                    // island [100,110)
      Ev(2, ts(61), 0))                                     // island [61,71)
    val input = MemoryStream[Ev]
    val q = StreamOps.intervalIslandsStream(input.toDS(), winMin,
        "10 minutes")
      .writeStream.format("memory").queryName("islands")
      .outputMode("append").start()
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      input.addData(Ev(99, ts(1000), 0)) // push watermark past every island
      q.processAllAvailable()
      val got = spark.table("islands")
        .filter(col("user_id") =!= 99)
        .select(col("user_id"),
          (unix_timestamp(col("island_start")) * 1000).as("st"),
          (unix_timestamp(col("island_end")) * 1000).as("en"),
          col("n_events"))
        .orderBy(col("user_id"), col("st"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq

      // Batch twin: p15's cummax + running-sum island assignment, in ms.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("t"))
      val uPre = org.apache.spark.sql.expressions.Window.unboundedPreceding
      val batch = evs.toDF()
        .filter(col("user_id") =!= 99)
        .withColumn("t", unix_timestamp(col("ts")) * 1000)
        .withColumn("end", col("t") + winMin * 60L * 1000L)
        .withColumn("mpe", max(col("end")).over(w.rowsBetween(uPre, -1)))
        .withColumn("ni", when(col("mpe").isNull ||
          col("t") > col("mpe"), 1L).otherwise(0L))
        .withColumn("isl", sum(col("ni")).over(w.rowsBetween(uPre, 0)))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("t")).as("st"), max(col("end")).as("en"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("st"), col("en"), col("n_events"))
        .orderBy(col("user_id"), col("st"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.size == 3, got.toString)
    } finally q.stop()
  }

  test("interval-island stream: cross-batch late-event merge and " +
    "gap-separated straggler both match the batch twin") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val winMin = 10
    // Batch 1 opens islands; batch 2 delivers out-of-order events:
    //  u1: open [60,75) after batch 1; late t=72 TOUCHES it => merge to
    //      [60,82) n=3 (the cross-batch merge path),
    //  u2: open [90,100) after batch 1; late t=65 ends at 75 < 90 =>
    //      gap-separated straggler => immediate singleton [65,75)
    //      (the documented eager-close path — identical to batch here
    //      because nothing else touches [65,75)).
    // Watermark delay 30min keeps both batch-2 events above the
    // watermark (max ts after batch 1 is 90 => watermark 60; an event
    // AT the watermark is dropped, which is why nothing sits below 65).
    val b1 = Seq(Ev(1, ts(60), 0), Ev(1, ts(65), 0), Ev(2, ts(90), 0))
    val b2 = Seq(Ev(1, ts(72), 0), Ev(2, ts(65), 0))
    val input = MemoryStream[Ev]
    val q = StreamOps.intervalIslandsStream(input.toDS(), winMin,
        "30 minutes")
      .writeStream.format("memory").queryName("islands_xbatch")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      input.addData(Ev(99, ts(1000), 0)) // close every open island
      q.processAllAvailable()
      val got = spark.table("islands_xbatch")
        .filter(col("user_id") =!= 99)
        .select(col("user_id"),
          (unix_timestamp(col("island_start")) * 1000).as("st"),
          (unix_timestamp(col("island_end")) * 1000).as("en"),
          col("n_events"))
        .orderBy(col("user_id"), col("st"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      val m = 60L * 1000L
      assert(got == Seq((1L, 60 * m, 82 * m, 3L),
        (2L, 65 * m, 75 * m, 1L), (2L, 90 * m, 100 * m, 1L)), got.toString)

      // Batch twin (p15 cummax) over the union of both micro-batches.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("t"))
      val uPre = org.apache.spark.sql.expressions.Window.unboundedPreceding
      val batch = (b1 ++ b2).toDF()
        .withColumn("t", unix_timestamp(col("ts")) * 1000)
        .withColumn("end", col("t") + winMin * 60L * 1000L)
        .withColumn("mpe", max(col("end")).over(w.rowsBetween(uPre, -1)))
        .withColumn("ni", when(col("mpe").isNull ||
          col("t") > col("mpe"), 1L).otherwise(0L))
        .withColumn("isl", sum(col("ni")).over(w.rowsBetween(uPre, 0)))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("t")).as("st"), max(col("end")).as("en"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("st"), col("en"), col("n_events"))
        .orderBy(col("user_id"), col("st"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(got == batch, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("indexed ingest dedup stream probes the static corpus index; " +
    "matches the batch d21 twin") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.IngestDoc
    // Static corpus index (the d21 artifact, built in-memory here):
    // content hashes + band table + token sets.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (3L, "solo1 solo2 solo3 solo4 solo5")).toDF("db", "text")
    val (ctset, csig) = graft.llm.Dedup.sigCols(col("text"))
    val sigDf = corpus.select(col("db"), ctset.as("tb"), csig.as("sig"))
    val bands = sigDf.select(col("db"),
      posexplode(col("sig")).as(Seq("band", "mh")))
    val hashes = corpus
      .select(md5(col("text").cast("binary")).as("cch")).distinct()
    val tsets = sigDf.select(col("db"), col("tb"))
    // Stream: an exact copy of corpus doc 1, a 9/11-Jaccard near-dup of
    // doc 2, and a fresh doc — split across two micro-batches.
    val b1 = Seq(IngestDoc(100, ts(60), "alpha beta gamma delta epsilon"))
    val b2 = Seq(
      IngestDoc(101, ts(65),
        (1 to 9).map(i => s"t$i").mkString(" ") + " extra"),
      IngestDoc(102, ts(70), "zz1 zz2 zz3"))
    val input = MemoryStream[IngestDoc]
    val q = StreamOps.indexedIngestDedupStream(input.toDS(),
        hashes, bands, tsets, "10 minutes", "1 minute")
      .writeStream.format("memory").queryName("ingest_idx")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      input.addData(IngestDoc(999, ts(1000), "closer"))
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("exact_dup"), col("n_candidates"),
          col("n_near"), col("best_jac"), col("best_doc"))
        .orderBy(col("doc_id"))
        .collect().map(_.toString).toSeq
      val got = rows(spark.table("ingest_idx")
        .filter(col("doc_id") =!= 999))
      // Batch twin: d21's probe joins + aggregation over the union of
      // both micro-batches (countDistinct == the stream's collect_set
      // size; null db rows count as zero candidates in both).
      val (btset, bsig) = graft.llm.Dedup.sigCols(col("text"))
      val signed = (b1 ++ b2).toDF()
        .select(col("doc_id"), md5(col("text").cast("binary")).as("ch"),
          btset.as("ta"), bsig.as("sig"))
        .join(hashes, col("ch") === col("cch"), "left_outer")
        .select(col("doc_id"), col("ta"),
          when(col("cch").isNotNull, 1L).otherwise(0L).as("exact_dup"),
          posexplode_outer(col("sig")).as(Seq("band", "mh")))
      val probed = signed
        .join(bands.toDF("db", "bandb", "mhb"),
          col("band") === col("bandb") && col("mh") === col("mhb"),
          "left_outer")
        .join(tsets, Seq("db"), "left_outer")
        .withColumn("inter",
          size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .withColumn("jac", col("inter").cast("double") /
          ((size(col("ta")) + size(col("tb"))).cast("long") - col("inter")))
      val twin = rows(probed
        .groupBy(col("doc_id"), col("exact_dup"))
        .agg(size(collect_set(col("db"))).cast("long").as("n_candidates"),
          size(collect_set(when(col("jac") >= 0.7, col("db"))))
            .cast("long").as("n_near"),
          max(when(col("jac") >= 0.7, struct(col("jac"), col("db"))))
            .as("best"))
        .select(col("doc_id"), col("exact_dup"), col("n_candidates"),
          col("n_near"), col("best.jac").as("best_jac"),
          col("best.db").as("best_doc")))
      assert(got == twin, s"stream $got != batch twin $twin")
      val byDoc = spark.table("ingest_idx")
        .filter(col("doc_id") =!= 999)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(byDoc(100L)._1 == 1L, s"doc 100 must be an exact dup: $byDoc")
      assert(byDoc(100L)._3 >= 1L, s"doc 100 must verify near-dup: $byDoc")
      assert(byDoc(101L)._1 == 0L && byDoc(101L)._3 == 1L,
        s"doc 101 must be a verified near-dup only: $byDoc")
      assert(byDoc(102L) == (0L, 0L, 0L),
        s"doc 102 must have no matches: $byDoc")
    } finally q.stop()
  }

  test("transition stream pairs events across micro-batches; matches batch lead()") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.TEv
    val events = Seq(
      TEv(1, ts(0), "view", 10), TEv(1, ts(5), "click", 11),
      // user 2: two SAME-timestamp events — the (ts, event_id) tiebreak
      // must order view(id 20) before click(id 21), exactly like p08's
      // lead() window; ts-only ordering paired these nondeterministically.
      TEv(2, ts(3), "view", 20), TEv(2, ts(3), "click", 21),
      // second micro-batch continues both users' sequences: the
      // cross-batch pairs exercise the per-user LastEv state.
      TEv(1, ts(12), "purchase", 12), TEv(2, ts(9), "click", 22),
      TEv(2, ts(15), "view", 23))
    val input = MemoryStream[TEv]
    val q = StreamOps.transitionStream(input.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    try {
      input.addData(events.take(4): _*)
      q.processAllAvailable()
      input.addData(events.drop(4): _*)
      q.processAllAvailable()
      val got = spark.table("transitions")
        .select(col("user_id"), col("event_type"), col("next_type"),
          col("gap_ms"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
      // batch twin: lead() over the full event set, p08's window order
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val exp = events.toDF()
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .select(col("user_id"), col("event_type"), col("next_type"),
          (col("next_ts").cast("long") - col("ts").cast("long")) * 1000)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
      assert(got == exp, s"got=$got exp=$exp")
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival, drops within-watermark dupes") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.Doc
    val input = MemoryStream[Doc]
    val q = StreamOps.dedupStream(input.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode("append").start()
    try {
      input.addData(
        Doc("h1", ts(10), "web"), Doc("h2", ts(11), "web"),
        Doc("h1", ts(12), "crawl")) // same batch duplicate
      q.processAllAvailable()
      // Cross-micro-batch duplicate, still inside the watermark horizon.
      input.addData(Doc("h1", ts(20), "pdf"), Doc("h3", ts(21), "web"))
      q.processAllAvailable()
      val got = spark.table("dedup_docs")
        .select(col("doc_hash"), col("source"))
        .orderBy(col("doc_hash"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      // First arrival of each hash survives; h1's crawl/pdf copies dropped.
      assert(got == Seq(("h1", "web"), ("h2", "web"), ("h3", "web")),
        got.toString)
      // The batch twin of "first arrival per hash".
      val batch = Seq(
        Doc("h1", ts(10), "web"), Doc("h2", ts(11), "web"),
        Doc("h1", ts(12), "crawl"), Doc("h1", ts(20), "pdf"),
        Doc("h3", ts(21), "web")).toDF()
        .orderBy(col("ts")).dropDuplicates("doc_hash")
        .select(col("doc_hash"), col("source")).orderBy(col("doc_hash"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == batch, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("row-wise simhashExpr equals d05's distributed groupBy simhash") {
    val sf = "/root/testdata/sf0.001"
    val perRow = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.llm.Dedup.simhashExpr(col("text")).as("rowwise"))
    val batch = graft.llm.Dedup.queries("d05_simhash")(spark, sf)
    val diff = perRow.join(batch, "doc_id")
      .filter(col("rowwise") =!= col("simhash16")).count()
    assert(diff == 0, s"$diff docs disagree between row-wise and groupBy")
  }

  test("streaming near-dup dedup collapses token-reordered duplicates") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.RawDoc
    val input = MemoryStream[RawDoc]
    val q = StreamOps.nearDedupStream(input.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("neardedup_docs")
      .outputMode("append").start()
    try {
      input.addData(
        RawDoc("the quick brown fox jumps over the lazy dog", ts(10), "web"),
        RawDoc("completely different content about spark shuffles", ts(11), "web"))
      q.processAllAvailable()
      // Same token multiset, reordered (a scraped near-dup): same simhash
      // by order-invariance → dropped as a duplicate across micro-batches.
      input.addData(
        RawDoc("quick the brown fox jumps over lazy the dog", ts(20), "crawl"))
      q.processAllAvailable()
      val got = spark.table("neardedup_docs")
        .select(col("source")).collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("web", "web"), got.toString)
    } finally q.stop()
  }

  test("dedup state survives a checkpointed restart (exactly-once sink)") {
    // Operational property none of the memory-sink tests cover: the
    // dropDuplicates state is CHECKPOINTED — after stopping and
    // restarting the query from the same checkpoint, a duplicate of a
    // pre-restart doc must still be dropped, and the file sink must hold
    // exactly one row per distinct hash (no replay duplication).
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.Doc
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    val input = MemoryStream[Doc]
    def start() = StreamOps.dedupStream(input.toDF(), "30 minutes")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    try {
      input.addData(Doc("h1", ts(10), "web"), Doc("h2", ts(11), "web"))
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start()
    try {
      // h1 again after restart: only the checkpointed state can drop it.
      input.addData(Doc("h1", ts(15), "crawl"), Doc("h3", ts(16), "web"))
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = spark.read.parquet(outDir)
      .select(col("doc_hash"), col("source"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq(("h1", "web"), ("h2", "web"), ("h3", "web")),
      rows.toString)
  }

  test("watermarked stream-stream join matches the batch join twin") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.{Doc, Label}
    val docs = MemoryStream[Doc]
    val labels = MemoryStream[Label]
    val q = StreamOps.labelJoin(docs.toDF(), labels.toDF(),
        "30 minutes", boundMinutes = 10)
      .writeStream.format("memory").queryName("doc_labels")
      .outputMode("append").start()
    try {
      docs.addData(Doc("h1", ts(10), "web"), Doc("h2", ts(12), "web"))
      // h1 labeled within bound; h2's label arrives 20' later — outside.
      labels.addData(Label("h1", ts(15), "good"),
        Label("h2", ts(32), "late"))
      q.processAllAvailable()
      // Advance both watermarks so all joinable pairs are emitted.
      docs.addData(Doc("h9", ts(500), "web"))
      labels.addData(Label("h9", ts(501), "x"))
      q.processAllAvailable()
      val got = spark.table("doc_labels")
        .filter(col("doc_hash") =!= "h9")
        .select(col("doc_hash"), col("label"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == Seq(("h1", "good")), got.toString)

      // Batch twin: plain interval join over the same data.
      val bd = Seq(Doc("h1", ts(10), "web"), Doc("h2", ts(12), "web")).toDF()
      val bl = Seq(Label("h1", ts(15), "good"),
        Label("h2", ts(32), "late")).toDF()
      val batch = bd.join(bl,
          expr("doc_hash = l_doc_hash AND l_ts >= ts AND " +
            "l_ts <= ts + interval 10 minutes"))
        .select(col("doc_hash"), col("label"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == batch, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("rolling anomaly stream emits closed days; matches batch p11 twin") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.VEv
    def dts(day: Long, minute: Long): Timestamp =
      new Timestamp(day * 86400000L + minute * 60000L)
    // Two types over 10 days; type "a" has a 5x spike on day 8 (quiet
    // trailing window), type "b" stays flat. Mid-day stragglers land in
    // the second micro-batch to exercise cross-batch day accumulation.
    val real = Seq(
      VEv("a", dts(1, 10), 100), VEv("a", dts(2, 10), 120),
      VEv("a", dts(3, 10), 90), VEv("a", dts(4, 10), 110),
      VEv("a", dts(5, 10), 100), VEv("a", dts(6, 10), 95),
      VEv("a", dts(7, 10), 105), VEv("a", dts(8, 10), 2000),
      VEv("a", dts(9, 10), 100),
      VEv("b", dts(1, 30), 50), VEv("b", dts(3, 30), 55),
      VEv("b", dts(5, 30), 60), VEv("b", dts(8, 30), 52))
    val stragglers = Seq(
      VEv("a", dts(8, 40), 500), VEv("b", dts(8, 50), 5))
    // Far-future ticks advance the watermark past every real day, then a
    // second round triggers the per-key update that emits them (the
    // watermark a batch sees is the one from the END of the previous
    // batch).
    val flush1 = Seq(VEv("a", dts(100, 0), 0), VEv("b", dts(100, 0), 0))
    val flush2 = Seq(VEv("a", dts(101, 0), 0), VEv("b", dts(101, 0), 0))

    val input = MemoryStream[VEv]
    val q = StreamOps.rollingAnomalyStream(input.toDS())
      .writeStream.format("memory").queryName("anomaly")
      .outputMode("append").start()
    try {
      input.addData(real: _*); q.processAllAvailable()
      input.addData(stragglers: _*); q.processAllAvailable()
      input.addData(flush1: _*); q.processAllAvailable()
      input.addData(flush2: _*); q.processAllAvailable()
      val got = spark.table("anomaly")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSet
      // Batch twin: p11's plan over the same (non-flush) rows in cents.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-7, -1)
      val exp = (real ++ stragglers).toDF()
        .withColumn("day", expr("CAST(ts AS LONG) div 86400"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("dc"))
        .withColumn("tc", coalesce(sum(col("dc")).over(w), lit(0L)))
        .withColumn("tn", count(col("dc")).over(w))
        .select(col("event_type"), col("day"), col("n_events"), col("dc"),
          col("tc"), col("tn"),
          (col("tn") > 0 && col("tn") * col("dc") > lit(2) * col("tc"))
            .as("is_spike"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSet
      assert(got == exp, s"stream $got != batch $exp")
      // And the spike day is actually flagged.
      assert(got.exists(r => r._1 == "a" && r._2 == 8 && r._7),
        "day-8 spike not flagged")
    } finally q.stop()
  }

  test("streaming EWMA matches the batch p17 window bit-for-bit across " +
    "micro-batches; stragglers drop") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.EwmaEv
    // In-order per-user series split across TWO micro-batches (the
    // cross-batch ring-state path), plus one straggler in batch 2 older
    // than batch 1's consumed suffix (must drop, not re-order).
    val b1 = Seq(EwmaEv(1, 10, ts(60), 1.0), EwmaEv(1, 11, ts(70), 2.5),
      EwmaEv(1, 12, ts(80), 3.0), EwmaEv(2, 20, ts(61), 9.75))
    val b2 = Seq(EwmaEv(1, 13, ts(90), 4.0),
      EwmaEv(1, 9, ts(65), 100.0)) // straggler
    val input = MemoryStream[EwmaEv]
    val q = StreamOps.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewma_rows")
      .outputMode("append").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("ewma_rows")
        .select(col("user_id"), col("event_id"), col("n_terms"),
          col("ewma"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(!got.exists(_._2 == 9L), "straggler was emitted")
      // Batch twin: write the IN-ORDER rows as an events corpus and run
      // the graded p17 query — the exact arithmetic, not a re-derivation.
      val tmp = java.nio.file.Files.createTempDirectory("ewmastream").toFile
      try {
        (b1 ++ b2.take(1)).toDF()
          .select(col("event_id"),
            (col("ts").cast("long") * 1000000000L).as("ts"),
            col("user_id"), lit("click").as("event_type"), col("value"),
            lit("{}").as("props"))
          .write.mode("overwrite").parquet(s"$tmp/events.parquet")
        val batch = graft.queries.Temporal.queries("p17_ewma")(
            spark, tmp.getPath)
          .select(col("user_id"), col("event_id"), col("n_terms"),
            col("ewma"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSet
        assert(got == batch, s"stream $got != batch $batch")
      } finally {
        def rec(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rec)
          f.delete()
        }
        rec(tmp)
      }
    } finally q.stop()
  }

  test("streaming SCD-2 emits closed validity intervals; matches the " +
    "batch p18 runs across micro-batches") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.ScdEv
    // user 1: click-run (2 events), view-run (1), then click again —
    // split across batches so the open run crosses the batch boundary.
    val b1 = Seq(ScdEv(1, 10, ts(60), "click"), ScdEv(1, 11, ts(70), "click"),
      ScdEv(1, 12, ts(80), "view"), ScdEv(2, 20, ts(61), "view"))
    val b2 = Seq(ScdEv(1, 13, ts(90), "click"),
      ScdEv(2, 21, ts(75), "purchase"))
    val input = MemoryStream[ScdEv]
    val q = StreamOps.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_rows")
      .outputMode("append").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("scd2_rows")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // Batch twin: p18's run logic on the same rows — CLOSED runs only
      // (the stream's open runs live in state, matching p18's
      // valid_to IS NULL rows).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val uPre = org.apache.spark.sql.expressions.Window.unboundedPreceding
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("run_id"))
      val batch = (b1 ++ b2).toDF()
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("chg", when(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("run_id", sum(col("chg")).over(w.rowsBetween(uPre, 0)))
        .groupBy(col("user_id"), col("run_id"), col("event_type"))
        .agg(min(col("ts").cast("long") * 1000).as("valid_from"),
          count(lit(1)).as("n_events"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(wr))
        .filter(col("valid_to").isNotNull)
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.exists(r => r._1 == 1L && r._2 == "view"),
        "the cross-batch view run never closed")
    } finally q.stop()
  }

  test("streaming Count-Min matrix equals the batch sketch after every " +
    "micro-batch (additivity)") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[String]
    val q = StreamOps.countMinStream(input.toDF().select(
        col("value").as("tok")), w = 64)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    // 64 buckets + 200 distinct tokens force collisions, so equality is
    // over a matrix where collision mass matters, not a diagonal.
    val batches = Seq(
      (0 until 100).map(i => s"tok${i % 40}"),
      (0 until 80).map(i => s"w${i % 200}"),
      Seq.fill(50)("alpha") ++ (0 until 30).map(i => s"w${i + 100}"))
    def batchCms(words: Seq[String]): Set[(Long, Long, Long)] =
      words.toDF("tok").transform(df =>
        StreamOps.countMinStream(df, w = 64))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      var seen = Seq.empty[String]
      batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
        seen = seen ++ b
        val got = spark.table("cms_stream").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == batchCms(seen),
          s"stream matrix diverged from batch after ${seen.size} tokens")
      }
    } finally q.stop()
  }

  test("serving ingest stream probes the static d33 indexes; equals the " +
    "batch d33 composite row-for-row") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.ServeDoc
    val dir = "/root/testdata/sf0.001"
    // The batch composite IS the expectation — and running it first
    // builds the materialized index artifacts the stream probes (the
    // bench-warmup convention).
    val expected = SparkEntry.queries("d33_serving_pipeline")(s, dir)
      .collect().map(_.toString).toSeq
    // Static inputs: the SAME published index segments the batch reads.
    val baseIdx = graft.llm.Dedup.ensureIngestIndexWhere(s, dir, "base",
      col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 3)
    val deltaIdx = graft.llm.Dedup.ensureIngestIndexWhere(s, dir, "delta",
      col("doc_id") % 7 === 3)
    def part(idx: String, p: String, cols: Seq[String]) =
      s.read.parquet(s"$idx/$p").toDF(cols: _*)
    val hashes = part(baseIdx, "hashes", Seq("cch"))
      .unionByName(part(deltaIdx, "hashes", Seq("cch"))).distinct()
    val mBits = 4096
    def bit(c: org.apache.spark.sql.Column, j: Int) =
      conv(substring(md5(concat(c, lit(s"#$j")).cast("binary")),
        1, 8), 16, 10).cast("long") % mBits
    val bits = hashes.select(explode(array(bit(col("cch"), 0),
      bit(col("cch"), 1), bit(col("cch"), 2))).as("sb")).distinct()
    // Artifact bands carry a build-time per-segment `pop` column
    // (round-13). The batch d33 caps by the base∪delta UNION
    // population, so the stream feed reconstructs exactly that: fold
    // the two segments' bucket-grain pops artifacts additively and
    // attach the union count as `union_pop` — the distinct name is
    // capCorpusBands' guard that the fold happened (a per-segment
    // `pop` would under-cap; round-13 advice) — and its artifact
    // branch then caps with a plain filter (no corpus band rows
    // aggregated on the static side).
    val popsU = part(baseIdx, "pops", Seq("bandb", "mhb", "pop"))
      .unionByName(part(deltaIdx, "pops", Seq("bandb", "mhb", "pop")))
      .groupBy(col("bandb"), col("mhb"))
      .agg(sum(col("pop")).as("union_pop"))
    val bands = part(baseIdx, "bands", Seq("db", "bandb", "mhb", "p0"))
      .unionByName(part(deltaIdx, "bands", Seq("db", "bandb", "mhb", "p0")))
      .drop("p0")
      .join(popsU, Seq("bandb", "mhb"))
    val tsets = part(baseIdx, "tsets", Seq("db", "tb"))
      .withColumn("seg", lit("base"))
      .unionByName(part(deltaIdx, "tsets", Seq("db", "tb"))
        .withColumn("seg", lit("delta")))
    val annIdx = graft.llm.Similarity.ensureAnnDeltaIndexWhere(s, dir,
      "d33", col("vec_id") % 7 =!= 0 && col("vec_id") % 7 =!= 3,
      col("vec_id") % 7 === 3)
    val cents = s.read.parquet(s"$annIdx/cents")
    val cells = s.read.parquet(s"$annIdx/cells_base")
      .withColumn("seg", lit("base"))
      .unionByName(s.read.parquet(s"$annIdx/cells_delta")
        .withColumn("seg", lit("delta")))
    val emb = Tables.load(s, dir, "embeddings")
    val corpusEmb = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"))
    val nBase = emb.filter(col("vec_id") % 7 =!= 0 &&
      col("vec_id") % 7 =!= 3).count()
    val nProbe = math.max(1L,
      math.round(math.round(math.sqrt(nBase.toDouble)) / 4.0)).toInt
    // Stream feed: the batch docs (doc_id ≡ 0 mod 7) with their
    // embeddings, split across two micro-batches.
    val feed = Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 7 === 0)
      .join(emb.select(col("vec_id"), col("embedding")),
        col("vec_id") === col("doc_id"), "left_outer")
      .select(col("doc_id"), col("text"), col("embedding"))
      .collect() // test-harness feed construction, not engine code
      .map(r => ServeDoc(r.getLong(0), ts(60),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getSeq[Float](2).toArray))
    val (b1, b2) = feed.splitAt(feed.length / 2)
    val input = MemoryStream[ServeDoc]
    val q = StreamOps.servingIngestStream(input.toDS(), hashes, bits,
        bands, tsets, cents, cells, nProbe)
      .writeStream.format("memory").queryName("serving_ingest")
      .outputMode("append").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(ServeDoc(-1L, ts(1000), "closer", null))
      q.processAllAvailable()
      val got = spark.table("serving_ingest")
        .filter(col("doc_id") =!= -1L)
        .orderBy(col("doc_id"))
        .collect().map(_.toString).toSeq
      assert(got == expected,
        s"stream (${got.size} rows) != batch d33 (${expected.size}):\n" +
          got.zipAll(expected, "∅", "∅")
            .collect { case (a, b) if a != b => s"$a != $b" }
            .take(5).mkString("\n"))
    } finally q.stop()
  }

  test("sweep-line concurrency stream matches the batch island sweep " +
    "(p21's twin): per-island peak depth, half-open tie rule, " +
    "cross-batch merge") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.IvEv
    def iv(k: Long, a: Long, b: Long) = IvEv(k, ts(a), ts(b))
    // k=1: overlapping triple (peak 3) + back-to-back pair in the SAME
    //      island (en == next st merges but must NOT count as
    //      concurrent), then a gap and a second island;
    // k=2: duplicates plus a cross-batch merge — the batch-2 interval
    //      starts inside batch-1's open island and lifts its peak to 3.
    // Times start at 100 (an event AT the initial watermark 0 would be
    // dropped — the strictly-greater filter the island tests pin), and
    // the 120-minute delay keeps b2's st=120 above the post-b1
    // watermark (max st 180 => wm 60).
    val b1 = Seq(iv(1, 100, 130), iv(1, 110, 120), iv(1, 115, 140),
      iv(1, 140, 150), iv(1, 180, 190),
      iv(2, 100, 125), iv(2, 100, 125))
    val b2 = Seq(iv(2, 120, 160))
    val input = MemoryStream[IvEv]
    val q = StreamOps.sweepConcurrencyStream(input.toDS(), "120 minutes")
      .writeStream.format("memory").queryName("sweep_conc")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      input.addData(iv(99, 1000, 1001)) // push watermark past everything
      q.processAllAvailable()
      val got = spark.table("sweep_conc")
        .filter(col("k") =!= 99)
        .select(col("k"),
          (unix_timestamp(col("island_start")) * 1000).as("ist"),
          (unix_timestamp(col("island_end")) * 1000).as("ien"),
          col("n_intervals"), col("peak_concurrency"))
        .orderBy(col("k"), col("ist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq

      // Batch twin in ms: p15 island assignment (cummax of ends), then
      // the ±1 sweep PARTITIONed BY (k, island) with the same
      // (ts, delta) tie order the stream's close-time sweep uses.
      val W = org.apache.spark.sql.expressions.Window
      val uPre = W.unboundedPreceding
      val wIsl = W.partitionBy(col("k")).orderBy(col("st"), col("en"))
      val base = (b1 ++ b2).toDS()
        .select(col("k"),
          (unix_timestamp(col("st")) * 1000).as("st"),
          (unix_timestamp(col("en")) * 1000).as("en"))
        .withColumn("mpe", max(col("en")).over(wIsl.rowsBetween(uPre, -1)))
        .withColumn("ni", when(col("mpe").isNull ||
          col("st") > col("mpe"), 1L).otherwise(0L))
        .withColumn("isl", sum(col("ni")).over(wIsl.rowsBetween(uPre, 0)))
      val ev = base.select(col("k"), col("isl"), col("st").as("ts"),
          lit(1L).as("delta"))
        .unionAll(base.select(col("k"), col("isl"), col("en").as("ts"),
          lit(-1L).as("delta")))
      val wSweep = W.partitionBy(col("k"), col("isl"))
        .orderBy(col("ts"), col("delta"))
        .rowsBetween(uPre, W.currentRow)
      val peaks = ev.withColumn("depth", sum(col("delta")).over(wSweep))
        .groupBy(col("k"), col("isl"))
        .agg(max(col("depth")).as("peak"))
      val batch = base.groupBy(col("k"), col("isl"))
        .agg(min(col("st")).as("ist"), max(col("en")).as("ien"),
          count(lit(1)).as("n"))
        .join(peaks, Seq("k", "isl"))
        .select(col("k"), col("ist"), col("ien"), col("n"), col("peak"))
        .orderBy(col("k"), col("ist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(got == batch, s"stream $got != batch $batch")
      // Shape sanity: k=1 closes two islands (peak 3 then 1), k=2 one
      // island whose cross-batch merge lifts the duplicate peak to 3.
      assert(got.map(t => (t._1, t._4, t._5)) ==
        Seq((1L, 4L, 3L), (1L, 1L, 1L), (2L, 3L, 3L)), got.toString)
    } finally q.stop()
  }

  test("sweep-line concurrency stream matches an in-memory island sweep " +
    "on randomized interval sets (single-batch delivery)") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.IvEv
    // Deterministic pseudo-random corpus (fixed seed — a streaming
    // query per ScalaCheck trial would be slow and flaky-prone; one
    // dense 120-interval corpus over 3 keys exercises merges, ties,
    // touching spans, duplicates and singletons far past the
    // example-based test). Delivered in ONE batch so no event is
    // below the watermark; a closing event finalizes every island.
    val rnd = new scala.util.Random(11)
    val evs = (0 until 120).map { i =>
      val k = 1L + rnd.nextInt(3)
      val st = 100L + rnd.nextInt(300)
      val span = 1L + rnd.nextInt(40)
      IvEv(k, ts(st), ts(st + span))
    }
    val input = MemoryStream[IvEv]
    val q = StreamOps.sweepConcurrencyStream(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("sweep_conc_rand")
      .outputMode("append").start()
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      input.addData(IvEv(99, ts(5000), ts(5001)))
      q.processAllAvailable()
      val got = spark.table("sweep_conc_rand")
        .filter(col("k") =!= 99)
        .select(col("k"),
          (unix_timestamp(col("island_start")) * 1000).as("ist"),
          (unix_timestamp(col("island_end")) * 1000).as("ien"),
          col("n_intervals"), col("peak_concurrency"))
        .orderBy(col("k"), col("ist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      // In-memory reference: sort per key by (st, en); an island breaks
      // where st exceeds the running max end; peak via the ±1 sweep
      // with -1 before +1 at equal ts (set semantics, independent of
      // the stream's implementation).
      val brute = evs.groupBy(_.k).toSeq.flatMap { case (k, ivs) =>
        val sorted = ivs.map(e => (e.st.getTime, e.en.getTime))
          .sortBy(identity)
        val islands = sorted.tail.foldLeft(
          Vector(Vector(sorted.head))) { (acc, iv) =>
          if (iv._1 > acc.last.map(_._2).max) acc :+ Vector(iv)
          else acc.init :+ (acc.last :+ iv)
        }
        islands.map { isl =>
          val events = (isl.map(i => (i._1, 1L)) ++
            isl.map(i => (i._2, -1L))).sorted
          val peak = events.scanLeft(0L)(_ + _._2).max
          (k, isl.map(_._1).min, isl.map(_._2).max,
            isl.size.toLong, peak)
        }
      }.sortBy(t => (t._1, t._2))
      assert(got == brute,
        got.zipAll(brute, null, null)
          .collect { case (a, b) if a != b => s"$a != $b" }
          .take(5).mkString("\n"))
      assert(got.size >= 3 && got.exists(_._5 >= 3),
        s"degenerate corpus: ${got.size} islands, " +
          s"max peak ${got.map(_._5).max}")
    } finally q.stop()
  }

  test("sweep-line concurrency stream compacts the finalized prefix: a " +
    "touching chain kept open across batches by a SHORT watermark still " +
    "emits the exact peak (round-11 advice: state must not grow with " +
    "island length)") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.IvEv
    def iv(k: Long, a: Long, b: Long) = IvEv(k, ts(a), ts(b))
    // 10-minute delay: after batch 1 (max st 115) the watermark sits at
    // 105, so batch 2's update folds the st=100 delta into the running
    // (depth, maxDepth) pair — the compaction path runs mid-island,
    // while batches 2 and 3 keep merging into the SAME open island
    // (every st stays above the advancing watermark and at-or-below the
    // running max end). The emitted peak must still be the exact
    // whole-island sweep, i.e. identical to the all-at-once batch twin.
    val b1 = Seq(iv(1, 100, 120), iv(1, 110, 130), iv(1, 115, 118))
    val b2 = Seq(iv(1, 125, 160), iv(1, 128, 140))
    val b3 = Seq(iv(1, 150, 170), iv(1, 152, 156))
    val all = b1 ++ b2 ++ b3
    val input = MemoryStream[IvEv]
    val q = StreamOps.sweepConcurrencyStream(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("sweep_conc_compact")
      .outputMode("append").start()
    try {
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
      input.addData(iv(99, 5000, 5001)) // push watermark past the island
      q.processAllAvailable()
      val got = spark.table("sweep_conc_compact")
        .filter(col("k") =!= 99)
        .select(col("k"),
          (unix_timestamp(col("island_start")) * 1000).as("ist"),
          (unix_timestamp(col("island_end")) * 1000).as("ien"),
          col("n_intervals"), col("peak_concurrency"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      // In-memory whole-island sweep (the compaction-free definition).
      val ms = all.map(e => (e.st.getTime, e.en.getTime))
      val events = (ms.map(i => (i._1, 1L)) ++ ms.map(i => (i._2, -1L)))
        .sorted
      val peak = events.scanLeft(0L)(_ + _._2).max
      val expected = Seq((1L, ms.map(_._1).min, ms.map(_._2).max,
        ms.size.toLong, peak))
      assert(got == expected, s"stream $got != expected $expected")
      assert(peak >= 3L, s"degenerate chain: peak $peak")
    } finally q.stop()
  }

  test("hybrid-RRF serving stream equals batch v25b row-for-row: arriving " +
    "queries probe the materialized postings + IVF artifacts and fuse " +
    "with the same fixed-point BM25 and cosine ranks") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    import graft.streaming.StreamOps.QueryEv
    val sf = "/root/testdata/sf0.001"
    // Batch run first: grades the same 20 queries AND forces the
    // postings/ANN artifact builds the stream then probes.
    val batch = graft.llm.Similarity
      .queries("v25b_hybrid_rrf_indexed")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    import graft.llm.IndexStore
    val pidx = IndexStore.path(IndexStore.Postings,
      new java.io.File(s"$sf/documents.parquet"))
    val aidx = IndexStore.path(IndexStore.Ann,
      new java.io.File(s"$sf/embeddings.parquet"))
    val postings = s.read.parquet(s"$pidx/postings")
    val vocab = s.read.parquet(s"$pidx/vocab")
    val stats = s.read.parquet(s"$pidx/stats")
    val cents = s.read.parquet(s"$aidx/cents")
    val cells = s.read.parquet(s"$aidx/cells")
    val emb = Tables.load(s, sf, "embeddings")
    val nProbe = math.max(1L, math.round(
      math.round(math.sqrt(emb.count().toDouble)) / 4.0)).toInt
    val corpusEmb = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"))
    // The v18/v25b query slice as ARRIVING events (ts > the initial
    // watermark 0 — the strictly-greater drop rule).
    val qevs = Tables.load(s, sf, "documents")
      .filter(col("text").isNotNull &&
        col("doc_id") >= 100 && col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
      .join(emb.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .collect().zipWithIndex.map { case (r, i) =>
        QueryEv(r.getAs[Long]("doc_id"), ts(100 + i),
          r.getAs[String]("text"), r.getAs[Seq[Float]]("embedding").toArray)
      }.toSeq
    val input = MemoryStream[QueryEv]
    val q = StreamOps.hybridRrfStream(input.toDS(), postings, vocab,
        stats, cents, cells, corpusEmb, nProbe)
      .writeStream.format("memory").queryName("hybrid_rrf")
      .outputMode("append").start()
    try {
      // Two batches (12 + 8 queries) — serving is per-arrival, no
      // cross-batch coupling to hide behind single-batch delivery.
      input.addData(qevs.take(12): _*)
      q.processAllAvailable()
      input.addData(qevs.drop(12): _*)
      q.processAllAvailable()
      // Duplicate re-issue of an already-served query: the state guard
      // must suppress it (no second copy of its rows).
      input.addData(qevs.head)
      q.processAllAvailable()
      val got = spark.table("hybrid_rrf")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
          .sortBy(t => (t._1, t._2))
      assert(got == batch.sortBy(t => (t._1, t._2)),
        got.zipAll(batch.sortBy(t => (t._1, t._2)), null, null)
          .collect { case (a, b) if a != b => s"$a != $b" }
          .take(5).mkString("\n"))
      assert(got.size == batch.size && got.nonEmpty,
        s"${got.size} stream rows vs ${batch.size} batch rows")
    } finally q.stop()
  }
}
