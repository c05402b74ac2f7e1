package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** The native grouped top-k: rewrite firing, plan shape, and value-level
  * equivalence against Spark's stock window plan on the same session.
  */
class NativeTopKSpec extends AnyFunSuite with SparkSessionTestWrapper {
  private val dir = "/root/testdata/sf0.001"

  private def topk(k: Int) = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    graft.Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey", $"c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .drop("rn")
  }

  test("the row_number idiom plans as partial+final TopKPerGroupExec, no raw-data sort, no window") {
    val df = topk(3)
    val p = df.queryExecution.sparkPlan
    val execs = p.collect { case t: TopKPerGroupExec => t }
    assert(execs.map(_.partial).sorted == Seq(false, true),
      s"expected one partial and one final TopKPerGroupExec:\n$p")
    val s = p.toString
    assert(!s.contains("WindowExec") && !s.contains("WindowGroupLimit"),
      s"window survived the rewrite:\n$s")
    // The scale claim: no sort ever sees the RAW data. The final stage
    // DOES require its ≤k-per-group-per-task survivor stream sorted
    // (that sort is spill-capable and tiny by construction), so the only
    // forbidden shape is a SortExec below the PARTIAL operator.
    val partialExec = execs.find(_.partial).get
    val sortsBelowPartial = partialExec.collect {
      case srt: org.apache.spark.sql.execution.SortExec => srt
    }
    assert(sortsBelowPartial.isEmpty, s"a sort below the partial top-k:\n$s")
  }

  test("partial budget flush over-emits candidates but the final stage re-selects exactly") {
    import spark.implicits._
    // a budget so small every few rows trip a flush — the partial stage
    // degrades toward pass-through and the final stage must still produce
    // exactly the window semantics
    spark.conf.set("spark.graft.topk.partialBudgetBytes", "256")
    try {
      val w = Window.partitionBy($"c_nationkey")
        .orderBy($"c_acctbal".desc, $"c_custkey".asc)
      val stock = graft.Tables.customer(spark, dir)
        .select($"c_nationkey", $"c_custkey", $"c_acctbal")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .drop("rn")
        .orderBy($"c_nationkey", $"c_acctbal".desc, $"c_custkey").collect().toSeq
      val got = topk(3)
        .orderBy($"c_nationkey", $"c_acctbal".desc, $"c_custkey").collect().toSeq
      assert(got == stock)
    } finally spark.conf.unset("spark.graft.topk.partialBudgetBytes")
  }

  test("float group keys follow window semantics: -0.0 groups with 0.0") {
    import spark.implicits._
    val df = Seq((0.0, 1L), (-0.0, 2L), (0.0, 3L), (-0.0, 4L), (1.5, 5L))
      .toDF("g", "id")
      .repartition(4) // spread the ±0.0 rows across tasks
    val w = Window.partitionBy($"g").orderBy($"id".asc)
    val top = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2).drop("rn")
    assert(top.queryExecution.sparkPlan.collect { case t: TopKPerGroupExec => t }.nonEmpty,
      "float-key idiom should rewrite")
    val got = top.orderBy($"g", $"id").select($"id").as[Long].collect().toSeq
    // one zero-group (ids 1,2), not two byte-distinct ±0.0 groups
    assert(got == Seq(1L, 2L, 5L), s"got $got")
  }

  test("native result matches the stock window plan row-for-row") {
    import spark.implicits._
    // keeping rn in the output blocks the rewrite -> stock window plan
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    val stock = graft.Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey", $"c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
    assert(stock.queryExecution.sparkPlan.collect { case t: TopKPerGroupExec => t }.isEmpty,
      "control plan unexpectedly rewritten")
    val expected = stock.drop("rn")
      .orderBy($"c_nationkey", $"c_acctbal".desc, $"c_custkey").collect().toSeq
    val got = topk(3)
      .orderBy($"c_nationkey", $"c_acctbal".desc, $"c_custkey").collect().toSeq
    assert(got == expected)
  }

  test("k larger than every group returns all rows") {
    import spark.implicits._
    val all = graft.Tables.customer(spark, dir).count()
    assert(topk(1000).count() == all)
  }

  test("k = 1 via the equality bound keeps exactly one row per group") {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    val df = graft.Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey", $"c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .drop("rn")
    assert(df.queryExecution.sparkPlan.collect { case t: TopKPerGroupExec => t }.nonEmpty,
      "rn === 1 should rewrite")
    val groups = graft.Tables.customer(spark, dir).select("c_nationkey").distinct().count()
    assert(df.count() == groups)
  }

  test("rank/dense_rank and rank-in-output shapes are NOT rewritten") {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    val ranked = graft.Tables.customer(spark, dir)
      .withColumn("rk", rank().over(w)).filter($"rk" <= 3).drop("rk")
    assert(ranked.queryExecution.sparkPlan.collect { case t: TopKPerGroupExec => t }.isEmpty,
      "rank() must not rewrite (ties admit > k rows)")
  }

  test("excluding the rewrite rule per session plans the stock window and returns the same rows") {
    import spark.implicits._
    def rows = topk(3).orderBy($"c_nationkey", $"c_acctbal".desc, $"c_custkey").collect().toSeq
    val native = rows
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.RewriteRankLimitToNativeTopK")
    try {
      val p = topk(3).queryExecution.sparkPlan
      assert(p.collect { case t: TopKPerGroupExec => t }.isEmpty, s"rule not excluded:\n$p")
      assert(rows == native)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
