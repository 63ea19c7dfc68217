package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.gold.FeatureWindows
import graft.meta.Checkpoint
import graft.silver.SilverBuilder

/** Committed lookback context across slices: ts-inversion
  * catch-and-reroute, horizon-free committed-turn dedup, exactness at
  * the CLI's default slice shape, per-slice heavy dispatch, and resume
  * of tables whose state deltas carry per-chunk rows.
  */
class ContextSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val start = 1704067200L
  private val sliceSecs = 8L * 86400
  private val nSlices = 5

  private val goldCols = Seq(
    "conv_id", "turn_idx", "role", "text", "tool", "ts", "dt",
    "turns_cnt_1h", "tool_calls_1h", "chars_sum_1h", "tool_distinct_24h", "avg_chars_7d",
    "prev_role", "gap_secs", "session_id")

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val (ga, gb) = (a.select(goldCols.map(col): _*), b.select(goldCols.map(col): _*))
    assert(ga.count() == gb.count())
    assert(ga.exceptAll(gb).count() == 0 && gb.exceptAll(ga).count() == 0)
  }

  private def rows(tuples: Seq[(String, Int, String, String, Option[String], Long)]): DataFrame =
    tuples.toDF("conv_id", "turn_idx", "role", "text", "tool_s", "sec")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool_s").as("tool"), timestamp_seconds(col("sec")).as("ts"))

  test("ts-inverted conversation is caught and rerouted; backfill == single-shot declarative") {
    val base = TranscriptGen.transcripts(spark, nConvs = 15, avgTurns = 12)
    // inversion crossing hours AND a heavy-path segment boundary:
    // turn 2 jumps back below turn 1, turn 4 below turn 3
    val inv = rows(Seq(
      ("inv_a", 0, "user", "hello there", None, start + 1000),
      ("inv_a", 1, "assistant", "reply one", None, start + 90000),
      ("inv_a", 2, "tool", "late clock", Some("t1"), start + 2000),
      ("inv_a", 3, "user", "more text here", None, start + 95000),
      ("inv_a", 4, "assistant", "back again", Some("t2"), start + 94000),
      // second inverted conversation living in a LATER slice
      ("inv_b", 0, "user", "x y z", None, start + 2 * sliceSecs + 100),
      ("inv_b", 1, "user", "w", None, start + 2 * sliceSecs + 50)))
    val bronze = base.unionByName(inv).cache()
    val dir = Files.createTempDirectory("bf_inv").toString
    val reports = Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    assert(reports.count(!_.skipped) == nSlices)
    assertSame(spark.read.parquet(s"$dir/gold"),
      FeatureWindows.gold(SilverBuilder.build(bronze)))
  }

  test("re-send of a committed turn beyond the 7d frame lookback is dropped (horizon-free dedup)") {
    val conv = rows(Seq(
      ("re_a", 0, "user", "first", None, start + 100),
      ("re_a", 1, "assistant", "second", Some("t1"), start + 200),
      ("re_a", 2, "user", "third", None, start + 300),
      // turn 1 re-sent 20 days later (two slices + beyond lookback),
      // with a text variant that would win dedup if both were visible
      ("re_a", 1, "assistant", "AAAA variant", None, start + 20 * 86400)))
    val bronze = TranscriptGen.transcripts(spark, nConvs = 8, avgTurns = 10)
      .unionByName(conv).cache()
    val dir = Files.createTempDirectory("bf_resend").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    val gold = spark.read.parquet(s"$dir/gold")
    // the committed original is the single-shot winner (min ts); the
    // re-send must not appear
    assert(gold.filter(col("conv_id") === "re_a" && col("turn_idx") === 1).count() == 1)
    assert(gold.filter(col("text") === "AAAA variant").count() == 0)
    assertSame(gold, FeatureWindows.gold(SilverBuilder.build(bronze)))
  }

  test("a conversation heavy in one slice returns to the light path with correct frames") {
    // per-slice dispatch: heavy_x brings > thr rows in slice 1 only
    // (700 > 500); at slice 2 just 400 of them remain inside the 7d
    // lookback (< 500), so it returns to the light path — whose frames
    // must still see those 400 committed events (the context read
    // covers routed conversations' gold too)
    val dense = (0 until 700).map { i =>
      val sec =
        if (i < 300) start + 3600L + i * 60L // first 6h: out of slice-2 lookback
        else start + 86400L + (i - 300) * 60L // day 2: inside slice-2 lookback
      ("heavy_x", i, if (i % 3 == 0) "user" else "assistant", s"turn number $i words",
        if (i % 7 == 0) Some(s"tool_${i % 4}") else None, sec)
    }
    val lightTail = (700 until 710).map(i =>
      ("heavy_x", i, "assistant", s"late turn $i", None, start + sliceSecs + 3600L + (i - 700) * 30L))
    val bronze = TranscriptGen.transcripts(spark, nConvs = 12, avgTurns = 10)
      .unionByName(rows(dense ++ lightTail)).cache()
    val dir = Files.createTempDirectory("bf_exheavy").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices,
      skewHeavyThreshold = Some(500L), segmentSecs = 2L * 86400)
    assertSame(spark.read.parquet(s"$dir/gold"), FeatureWindows.gold(SilverBuilder.build(bronze)))
  }

  test("1-day slices (7x lookback/slice, the CLI default) are bit-equal to the single-shot run") {
    // two long-lived conversations span every slice, so each slice's
    // 1h/24h/7d frames draw on up to seven committed slices of context
    val days = 10
    val bronze = TranscriptGen.transcripts(spark, nConvs = 40, avgTurns = 18,
      megaConvs = 2, megaTurns = 1500, injectAnomalies = true)
      .filter(col("ts") < timestamp_seconds(lit(start + days * 86400L))).cache()
    val dir = Files.createTempDirectory("bf_daily").toString
    val reports = Backfill.run(spark, bronze, dir, start, 86400L, days)
    assert(reports.count(r => !r.skipped && r.rows > 0) == days)
    assertSame(spark.read.parquet(s"$dir/gold"), FeatureWindows.gold(SilverBuilder.build(bronze)))
    bronze.unpersist()
  }

  test("a table whose deltas hold per-chunk state rows resumes to the single-shot run") {
    // Tables written by the retired frame-tails strategy keep one delta
    // row per (conversation, turn chunk), each with that chunk's
    // running state, plus tail arrays, and a _meta/table_props.json.
    // The state must resolve by (slice_start, chunk): "chunky" ends
    // slice 0 with turns 4 (user) and 5 (assistant) in the same second,
    // split across chunks 0 and 1, so any other order seeds turn 6's
    // prev_role with the wrong row.
    val chunkTurns = 5
    val t = start + sliceSecs - 3600L
    val chunky = rows(
      (0 until 4).map(i =>
        ("chunky", i, "user", s"early turn $i", Option.empty[String], t - 600L + i * 60L)) ++
        Seq(("chunky", 4, "user", "tie at the chunk edge", Some("t1"), t),
          ("chunky", 5, "assistant", "same second", None, t)) ++
        (6 until 9).map(i => ("chunky", i, "assistant", s"next slice $i", Option.empty[String],
          start + sliceSecs + 600L + i * 60L)))
    val bronze = TranscriptGen.transcripts(spark, nConvs = 12, avgTurns = 10)
      .unionByName(chunky).cache()
    val dir = Files.createTempDirectory("bf_chunked").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, 1)

    // rewrite the committed slice's delta in the per-chunk layout
    val entry = struct(unix_timestamp(col("ts")).as("t"), col("text_len").as("len"), col("tool"))
    spark.read.parquet(s"$dir/gold")
      .groupBy(col("conv_id"), floor(col("turn_idx") / chunkTurns).cast("int").as("chunk"))
      .agg(
        max_by(struct(col("ts").as("st_last_ts"), col("turn_idx").as("st_last_turn_idx"),
          col("role").as("st_last_role")), struct(col("turn_idx"), col("ts"))).as("_st"),
        max(col("session_id")).as("st_sessions"),
        sort_array(collect_list(entry)).as("_e"))
      .select(col("conv_id"), col("_st.*"), col("st_sessions"), col("chunk"),
        col("_e.t").as("tail_ts"), col("_e.len").as("tail_len"), col("_e.tool").as("tail_tool"))
      .write.mode("overwrite").parquet(Checkpoint.stateDeltaDir(dir, start))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val props = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_meta/table_props.json"))
    props.write("{\"context_tails\": true}\n".getBytes("UTF-8"))
    props.close()
    val chunkyRows = Checkpoint.readConvStateDeltas(spark, dir, start + sliceSecs)
      .filter(col("conv_id") === "chunky")
    assert(chunkyRows.select("chunk").as[Int].collect().toSet == Set(0, 1))

    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    assertSame(spark.read.parquet(s"$dir/gold"), FeatureWindows.gold(SilverBuilder.build(bronze)))
    val latest = Checkpoint.latestConvState(Checkpoint.readConvStateDeltas(spark, dir, Long.MaxValue))
      .filter(col("conv_id") === "chunky").select("st_last_turn_idx").as[Int].collect()
    assert(latest.toSeq == Seq(8))
  }
}
