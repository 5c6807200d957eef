package graft

import graft.operators.TextAnalysis
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextStreamSpec extends AnyFunSuite {
  import SparkTestSession._

  test("argmax tie-break follows marker order") {
    val s = spark
    import s.implicits._
    val df = Seq("the data the data").toDF("text") // en score == es score
    val scores = TextAnalysis.langScores(col("text"))
    val pred = df.select(TextAnalysis.argmax(scores)).head.getString(0)
    assert(pred == "en") // first in fixed order wins ties
  }

  test("quality features are exact on a known doc") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "the cat sat on a mat")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(df).head
    assert(r.getAs[Long]("n_chars") == 20)
    assert(r.getAs[Long]("n_tokens") == 6)
    assert(r.getAs[Long]("n_stopwords") == 2) // 'the', 'a'
    assert(r.getAs[Double]("avg_token_len") == 15.0 / 6)
    assert(r.getAs[String]("quality_bin") == "short")
  }

  test("token counts: whitespace and BPE-ish subtokens") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "abcd abcde a")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(df).head
    assert(r.getAs[Long]("n_ws_tokens") == 3)
    assert(r.getAs[Long]("n_subtokens") == 1 + 2 + 1) // ceil(4/4)+ceil(5/4)+ceil(1/4)
  }

  test("content-defined chunking: edits re-key only local chunks; fixed-size re-keys everything") {
    val s = spark
    import s.implicits._
    // deterministic 400-token document; insert one token near the front
    val words = (0 until 400).map(i => s"w${(i * 2654435761L) % 977}")
    val edited = (words.take(5) :+ "INSERTED") ++ words.drop(5)
    val df = Seq((1L, words.mkString(" ")), (2L, edited.mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.contentDefinedChunks(df)
      .select("doc_id", "chunk_md5").as[(Long, String)].collect()
    val orig = chunks.filter(_._1 == 1L).map(_._2).toSet
    val edit = chunks.filter(_._1 == 2L).map(_._2).toSet
    assert(orig.size > 10, s"expected many chunks, got ${orig.size}")
    // CDC: everything after the first boundary past the edit is identical —
    // at most a couple of chunks (those overlapping the insertion) differ
    val lost = orig.diff(edit).size
    assert(lost <= 3, s"CDC lost $lost of ${orig.size} chunks to a 1-token edit")
    // fixed-size chunking of the same edit re-keys nearly every chunk
    def fixed(ws: Seq[String]) = ws.grouped(16).map(_.mkString(" ")).toSet
    val fixedKept = fixed(words).intersect(fixed(edited)).size
    assert(fixedKept <= 1, s"fixed-size unexpectedly kept $fixedKept chunks")
    // chunk spans tile the document exactly (no gaps, no overlaps)
    val spans = TextAnalysis.contentDefinedChunks(df).filter($"doc_id" === 1L)
      .select("start_token", "n_tokens").as[(Long, Long)].collect().sortBy(_._1)
    assert(spans.head._1 == 1L)
    assert(spans.map(_._2).sum == 400L)
    spans.sliding(2).foreach {
      case Array((s1, n1), (s2, _)) => assert(s1 + n1 == s2)
      case _ => ()
    }
  }

  test("PII redaction: masking order, adjacency, and count independence") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "mail a_1@host9.com then dial 312-555-0100 from 10.0.0.7"),
      // email digits must not be half-eaten by the phone pattern
      (2L, "x 123-456-7890@host.com y"),
      // two IPs, no phone; IP pattern must not bite placeholder digits
      (3L, "10.1.2.3 10.4.5.6"),
      (4L, "clean text only")).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(df).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3), x.getLong(4)))
      .toMap
    assert(r(1L) == (("mail <EMAIL> then dial <PHONE> from <IP>", 1L, 1L, 1L)))
    // the email local-part class has no dash: only "7890@host.com" masks,
    // the phone fragment stays (and no longer matches the phone pattern) —
    // but counts, taken from the ORIGINAL text, still see the full phone
    assert(r(2L) == (("x 123-456-<EMAIL> y", 1L, 1L, 0L)))
    assert(r(3L) == (("<IP> <IP>", 0L, 0L, 2L)))
    assert(r(4L) == (("clean text only", 0L, 0L, 0L)))
  }

  test("streaming complete-mode hourly counts equal the batch aggregation") {
    val batch = Tables.events(spark, sf0001)
      .groupBy((expr("ts div 3600000000000") * 3600).as("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val stream = StreamingOps.hourlyCounts(spark, sf0001, "spec_stream_hourly")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(stream == batch)
  }

  test("stateful streaming sessionization matches batch sessions (modulo the open tail session)") {
    val batch = graft.operators.Sessionize.batch(Tables.events(spark, sf0001))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id")) ->
        (r.getAs[Long]("session_start"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      .toMap
    val stream = graft.operators.Sessionize.streaming(spark, sf0001, "spec_sessions")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id")) ->
        (r.getAs[Long]("session_start"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      .toMap
    // streaming emits only closed sessions; each must match batch exactly
    assert(stream.nonEmpty)
    val mismatches = stream.filter { case (k, v) => !batch.get(k).contains(v) }
    assert(mismatches.isEmpty, s"${mismatches.take(3)}")
    // per user, batch has exactly one more (open) session than streaming closed ones — or equal if user has 1 session
    val batchPerUser = batch.keys.groupBy(_._1).view.mapValues(_.size).toMap
    val streamPerUser = stream.keys.groupBy(_._1).view.mapValues(_.size).toMap
    streamPerUser.foreach { case (u, n) =>
      assert(batchPerUser(u) == n + 1, s"user $u: batch ${batchPerUser(u)} vs stream-closed $n")
    }
  }

  test("mixture sample runs unchanged on a document stream") {
    val s = spark
    import s.implicits._
    import graft.operators.TrainingPrep
    val docs = Tables.documents(s, sf0001)
    val weights = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
    val batch = TrainingPrep.mixtureSample(docs.filter($"doc_id" % 17 =!= 0), weights)
      .select("doc_id").as[Long].collect().toSet
    val stream = s.readStream
      .schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sf0001)
      .filter($"doc_id" % 17 =!= 0)
    val filtered = TrainingPrep.mixtureSample(stream, weights)
    val q = filtered.select("doc_id").writeStream
      .outputMode("append").format("memory").queryName("spec_tp_stream").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = s.table("spec_tp_stream").as[Long].collect().toSet
    assert(got == batch, s"stream ${got.size} vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("streaming dedup: dropDuplicates on the stream matches batch distinct") {
    val schema = Tables.eventsRawSchema(spark, sf0001)
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf0001)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    val q = src.writeStream.outputMode("append")
      .format("memory").queryName("spec_stream_dedup").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("spec_stream_dedup").count()
    val batch = Tables.events(spark, sf0001)
      .select("user_id", "event_type").distinct().count()
    assert(streamed == batch)
  }

  test("left-outer stream-stream join equals batch left join, outer tail included") {
    val s = spark
    import s.implicits._
    val base = s"${GraftSession.scratchBase}/spec_ssoj"
    val conf = s.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$sf0001/events.parquet"),
      fs, new org.apache.hadoop.fs.Path(s"$base/in/events.parquet"), false, conf)
    val streamed = StreamingOps.streamStreamFunnelOuter(s, s"$base/in", "spec_ssoj_q")
      .as[(Long, Long, Option[Long], Long, Option[Long])].collect().sorted.toSeq
    val ev = Tables.events(s, sf0001)
    val p = ev.filter($"event_type" === "purchase").select(
      $"user_id", $"event_id".as("pe"), expr("ts div 1000").as("pus"))
    val sg = ev.filter($"event_type" === "signup").select(
      $"user_id".as("su"), $"event_id".as("se"), expr("ts div 1000").as("sus"))
    val batch = p.join(sg,
        $"user_id" === $"su" && $"sus" <= $"pus" && $"sus" >= $"pus" - 3600000000L,
        "left_outer")
      .select($"user_id", $"pe", $"se", expr("pus div 1000000").as("pep"),
        expr("sus div 1000000").as("sep"))
      .as[(Long, Long, Option[Long], Long, Option[Long])].collect().sorted.toSeq
    assert(streamed == batch, s"sizes: streamed=${streamed.size} batch=${batch.size}")
    // the watermark-proven outer tail actually exercises: nulls must exist
    assert(streamed.exists(_._3.isEmpty))
  }
}
