package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaxSimSpec extends SparkSpec {
  import spark.implicits._

  // 12 docs × 4 token vectors, ids = doc·64 + pos
  private def tokVecs = (0 until 12).flatMap(doc => (0 until 4).map(p =>
    (doc.toLong * 64 + p,
      Array.tabulate(8)(d => math.sin(doc * 17 + p * 5 + d + 1).toFloat))))
    .toDF("__id", "__vec")

  private def queryToks = tokVecs.filter($"__id" < 2 * 64)
    .select(($"__id" + 10000000L).as("__qtok"),
      floor($"__id" / 64).cast("long").as("qdoc"), $"__vec")

  /** Inline reference: exact MaxSim over ALL (query doc, corpus doc)
    * pairs — Σ_q max_d cosine, self excluded, same rounding/tiebreak.
    */
  private def bruteMaxSim(k: Int) = {
    val qt = queryToks
    val dt = tokVecs.select(floor($"__id" / 64).cast("long").as("doc"), $"__vec".as("__dv"))
    val perTok = qt.crossJoin(dt).filter($"qdoc" =!= $"doc")
      .groupBy($"qdoc", $"doc", $"__qtok")
      .agg(max(Similarity.cosine($"__vec", $"__dv")).as("mx"))
    val scored = perTok.groupBy($"qdoc".as("query_id"), $"doc".as("doc_id"))
      .agg(sum($"mx").as("maxsim"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy(round($"maxsim", 4).desc, $"doc_id")
    scored.withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", round($"maxsim", 4).as("maxsim"))
  }

  test("exhaustive probing + full candidate depth equals brute-force MaxSim exactly") {
    val dir = graft.SparkSpec.tempDir("graft_maxsim").toString + "/idx"
    AnnIndex.buildIvf(tokVecs, "__id", "__vec", dir, nlist = 4, iters = 1)
    // nprobe = nlist and candPerToken = |corpus tokens|: both stage-1
    // approximations vanish, so the two-stage serve must equal brute force
    val served = MaxSim.maxSimTopK(spark, dir, queryToks,
        "qdoc", "__qtok", "__vec", k = 5, nprobe = 4, candPerToken = 48, cap = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val brute = bruteMaxSim(5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    served shouldBe brute
    served.size shouldBe 10 // 2 queries × k
  }

  test("deleted docs vanish from MaxSim serving (liveness reaches stage 2)") {
    val dir = graft.SparkSpec.tempDir("graft_maxsim").toString + "/idx"
    AnnIndex.buildIvf(tokVecs, "__id", "__vec", dir, nlist = 4, iters = 1)
    val before = MaxSim.maxSimTopK(spark, dir, queryToks,
        "qdoc", "__qtok", "__vec", k = 5, nprobe = 4, candPerToken = 48, cap = 64)
      .select("doc_id").as[Long].collect().toSet
    before should not be empty
    // forget a doc that IS currently served: tombstone its token vectors
    val victim = before.min
    AnnIndex.deleteIds(spark, dir,
      tokVecs.filter(floor($"__id" / 64) === victim).select($"__id"), "__id")
    val after = MaxSim.maxSimTopK(spark, dir, queryToks,
      "qdoc", "__qtok", "__vec", k = 5, nprobe = 4, candPerToken = 48, cap = 64)
    after.select("doc_id").as[Long].collect().toSet should not contain victim
  }
}
