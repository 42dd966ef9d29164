package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The mergeable quantile summary's contract: deterministic md5-driven
  * levels, the smallest fitting cut, EXACT mergeability (any split, any
  * merge order equals the one-shot summary bit-for-bit), and the
  * weighted-rank estimate staying inside the sampling band.
  */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private val K = 64

  private def corpus(n: Int): DataFrame =
    // a skewed but deterministic value shape: values repeat, span ~n/3
    (1 to n).map(i => (i.toLong, ((i * 7919) % (n / 3 + 7)).toLong))
      .toDF("id", "v")

  private def keptSet(s: Sketch.QuantileSummary): Set[(Int, Long)] =
    s.items.as[(Int, Long)].collect().toSet

  test("small corpora keep everything at level 0 — the summary is exact") {
    val df = corpus(40) // 40 <= K: no trim possible
    val s = Sketch.quantileSketch(df, col("id"), col("v"), K)
    s.level shouldBe 0
    s.items.count() shouldBe 40L
    // est_rank at weight 2^0 IS the true rank for every probe
    val probe = 17L
    val est = s.items.filter(col("__v") <= probe).count() << s.level
    est shouldBe df.filter(col("v") <= probe).count()
  }

  test("the cut is the smallest level that fits the capacity") {
    val df = corpus(1200)
    val s = Sketch.quantileSketch(df, col("id"), col("v"), K)
    s.level should be > 0
    val items = Sketch.quantileLevelItems(df, col("id"), col("v"))
      .localCheckpoint(true)
    items.filter(col("__lvl") >= s.level).count() should be <= K.toLong
    items.filter(col("__lvl") >= s.level - 1).count() should be > K.toLong
    keptSet(s) shouldBe items.filter(col("__lvl") >= s.level)
      .as[(Int, Long)].collect().toSet
  }

  test("merging split summaries equals the one-shot summary, any order") {
    val df = corpus(1500).localCheckpoint(true)
    val parts = Seq(
      df.filter(col("id") % 3 === 0),
      df.filter(col("id") % 3 === 1),
      df.filter(col("id") % 3 === 2))
    val one = Sketch.quantileSketch(df, col("id"), col("v"), K)
    val ss = parts.map(p => Sketch.quantileSketch(p, col("id"), col("v"), K))
    val leftFold = Sketch.quantileMerge(
      Sketch.quantileMerge(ss(0), ss(1), K), ss(2), K)
    val rightFold = Sketch.quantileMerge(
      ss(0), Sketch.quantileMerge(ss(1), ss(2), K), K)
    for (m <- Seq(leftFold, rightFold)) {
      m.level shouldBe one.level
      keptSet(m) shouldBe keptSet(one)
    }
  }

  test("every part's cut is a floor of the union's cut") {
    // the mergeability precondition itself: a subset never cuts deeper
    // than the union (its level counts are <= the union's)
    val df = corpus(1500).localCheckpoint(true)
    val one = Sketch.quantileSketch(df, col("id"), col("v"), K)
    for (r <- 0 until 3) {
      val part = Sketch.quantileSketch(
        df.filter(col("id") % 3 === r), col("id"), col("v"), K)
      part.level should be <= one.level
    }
  }

  test("reading a missing or all-filtered store is an empty summary, not a crash") {
    import graft.streaming.EventStreams
    // a store with zero published batches has no deltas/ path at all
    val missing = graft.SparkSpec.tempDir("graft_qs_missing").toString + "/never_published"
    val s0 = EventStreams.readQuantileSketch(spark, missing, K)
    s0.level shouldBe 0
    s0.items.count() shouldBe 0L
    // and a store whose rowFilter excluded every row has deltas but a
    // NULL max(min_lvl) — an empty level-0 summary, not a getInt crash
    val empty = graft.SparkSpec.tempDir("graft_qs_empty").toString
    Seq.empty[(Int, Long, Int)].toDF("__lvl", "__v", "min_lvl")
      .write.parquet(s"$empty/deltas")
    val s1 = EventStreams.readQuantileSketch(spark, empty, K)
    s1.level shouldBe 0
    s1.items.count() shouldBe 0L
  }

  test("deletion = rebuild from survivors; idempotent; crash-replay heals") {
    import graft.streaming.EventStreams
    val store = graft.SparkSpec.tempDir("graft_qs_forget").toString + "/store"
    val df = corpus(900).localCheckpoint(true)
    // generation 0: the full corpus
    EventStreams.rebuildQuantileStore(spark, store, df, col("id"), col("v"), K)
    // forget a third of the keys: rebuild from the survivors
    val live = df.filter(col("id") % 3 =!= 0).localCheckpoint(true)
    EventStreams.rebuildQuantileStore(spark, store, live, col("id"), col("v"), K)
    val expect = Sketch.quantileSketch(live, col("id"), col("v"), K)
    val got = EventStreams.readQuantileSketch(spark, store, K)
    got.level shouldBe expect.level
    keptSet(got) shouldBe keptSet(expect)
    // idempotent: re-running the same rebuild changes nothing
    EventStreams.rebuildQuantileStore(spark, store, live, col("id"), col("v"), K)
    keptSet(EventStreams.readQuantileSketch(spark, store, K)) shouldBe keptSet(expect)
    // crash replay: a swap that died between move(dir→bak) and
    // move(tmp→dir) leaves only .bak; the next rebuild must restore it
    // first (not read the missing dir as empty) and then swap cleanly
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store + ".bak"))
    EventStreams.rebuildQuantileStore(spark, store, live, col("id"), col("v"), K)
    keptSet(EventStreams.readQuantileSketch(spark, store, K)) shouldBe keptSet(expect)
    fs.exists(new org.apache.hadoop.fs.Path(store + ".bak")) shouldBe false
  }

  test("weighted rank estimates stay inside the sampling band") {
    val n = 4000
    val df = corpus(n).localCheckpoint(true)
    val s = Sketch.quantileSketch(df, col("id"), col("v"), 256)
    val kept = s.items.localCheckpoint(true)
    for (pct <- Seq(10, 50, 90)) {
      val probe = df.select(col("v")).orderBy(col("v"))
        .limit(math.max(1, pct * n / 100)).agg(max(col("v"))).head().getLong(0)
      val est = kept.filter(col("__v") <= probe).count() << s.level
      val tru = df.filter(col("v") <= probe).count()
      math.abs(est - tru).toDouble should be <= 0.15 * n
    }
  }
}
