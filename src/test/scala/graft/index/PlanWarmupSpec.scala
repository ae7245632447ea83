package graft.index

import graft.SparkSpec

class PlanWarmupSpec extends SparkSpec {

  test("warmPqFlood executes the flood plan family, is idempotent, restores the gate conf") {
    val gateBefore = spark.conf.getOption(Sizing.BroadcastGateKey)
    PlanWarmup.warmPqFlood(spark)
    // the broadcast-gate override used to force the salted shape must not
    // leak into the caller's session
    assert(spark.conf.getOption(Sizing.BroadcastGateKey) === gateBefore,
      "warmup must restore the broadcast gate conf")
    // the position-independent codegen cache flag is the warmup's
    // documented side effect — without it identical subplans at different
    // stage numbers recompile per query
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") === "false")
    // idempotent: a second call compiles nothing and runs no jobs
    val cg0 = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val jobs0 = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    PlanWarmup.warmPqFlood(spark)
    val cg1 = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    assert(cg1 === cg0, "second warmPqFlood must be a no-op (no codegen)")
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      === jobs0, "second warmPqFlood must run no jobs")
  }

  test("warmSqlAnn executes the rewritten SQL shapes, cleans up, is idempotent") {
    PlanWarmup.warmSqlAnn(spark)
    // cleanup contract: no lingering views, no lingering registration
    assert(!spark.catalog.tableExists("graft_warmup_sql"),
      "warmup must drop its corpus view")
    assert(!spark.catalog.tableExists("graft_warmup_sql_q"),
      "warmup must drop its queries view")
    val cg0 = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    PlanWarmup.warmSqlAnn(spark)
    assert(org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount === cg0,
      "second warmSqlAnn must be a no-op")
  }
}
