package graft.functions

/**
 * Single-thread microbenchmark of the flat scorers' kernel: ns per
 * (row, query) pair for l2, ip and cosine at dims 64, 128 and 768, scored
 * sequentially (one [[VectorKernels.distance]] call per pair) against
 * interleaved (one [[VectorKernels.distancesTo]] call per row), plus the
 * count of pairs whose double bits differ between the two (the inputs
 * are finite, so no NaN is produced).
 *
 * The shape is one inverted list scored by the queries probing it: 1,024
 * Gaussian rows against 13 queries (perfbench's batch-64 search at
 * nprobe 16 touches about 79 lists, so 64 x 16 / 79 queries per list).
 * Each figure is the median of 15 timed rounds after 40 warm-up rounds.
 *
 * Run from the test classpath, e.g.
 * {{{
 *   sbt "Test/runMain graft.functions.KernelBench KERNEL_rNN.json"
 * }}}
 */
object KernelBench {

  private val Rows = 1024
  private val Queries = 13
  private val Warmup = 40
  private val Rounds = 15

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("KERNEL.json")
    val metrics = Seq("l2" -> VectorKernels.METRIC_L2, "ip" -> VectorKernels.METRIC_IP,
      "cosine" -> VectorKernels.METRIC_COSINE)
    val results = for {
      dim <- Seq(64, 128, 768)
      (name, metric) <- metrics
    } yield measure(name, metric, dim)
    val cpu = scala.util.Using(scala.io.Source.fromFile("/proc/cpuinfo"))(_.getLines()
      .find(_.startsWith("model name")).fold("unknown")(_.split(":", 2)(1).trim))
      .getOrElse("unknown")
    val json = new StringBuilder
    json ++= "{\n"
    json ++= s"""  "what": "ns per (row, query) pair, one thread: sequential distance() per pair vs interleaved distancesTo() per row",\n"""
    json ++= s"""  "shape": {"rows": $Rows, "queries": $Queries, "warmup_rounds": $Warmup, "timed_rounds": $Rounds, "stat": "median"},\n"""
    json ++= s"""  "hardware": {"cpu": "$cpu", "vcpus": ${Runtime.getRuntime.availableProcessors}, "jvm": "${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"},\n"""
    json ++= "  \"results\": [\n"
    json ++= results.map { r =>
      f"""    {"metric": "${r.metric}", "dim": ${r.dim}, "sequential_ns_per_pair": ${r.seq}%.2f, "interleaved_ns_per_pair": ${r.inter}%.2f, "ratio": ${r.inter / r.seq}%.3f, "mismatches": ${r.mismatches}}"""
    }.mkString(",\n")
    json ++= "\n  ],\n"
    json ++= s"""  "total_mismatches": ${results.map(_.mismatches).sum}\n}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.toString.getBytes("UTF-8"))
    print(json)
  }

  private final case class Result(metric: String, dim: Int, seq: Double, inter: Double,
      mismatches: Long)

  private def measure(name: String, metric: Int, dim: Int): Result = {
    val rnd = new scala.util.Random(dim * 31 + metric)
    val rows = Array.fill(Rows)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val qvecs = Array.fill(Queries)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val pos = Array.range(0, Queries)
    val seqOut = new Array[Double](Queries)
    val interOut = new Array[Double](Queries)
    var sink = 0.0

    def sequential(): Unit = {
      var r = 0
      while (r < Rows) {
        var j = 0
        while (j < Queries) { seqOut(j) = VectorKernels.distance(rows(r), qvecs(j), metric); j += 1 }
        sink += seqOut(0)
        r += 1
      }
    }
    def interleaved(): Unit = {
      var r = 0
      while (r < Rows) {
        VectorKernels.distancesTo(rows(r), qvecs, pos, metric, interOut)
        sink += interOut(0)
        r += 1
      }
    }
    def timed(f: () => Unit): Double = {
      val t0 = System.nanoTime()
      f()
      (System.nanoTime() - t0).toDouble / (Rows.toLong * Queries)
    }

    var mismatches = 0L
    var r = 0
    while (r < Rows) {
      VectorKernels.distancesTo(rows(r), qvecs, pos, metric, interOut)
      var j = 0
      while (j < Queries) {
        if (java.lang.Double.doubleToLongBits(interOut(j)) !=
            java.lang.Double.doubleToLongBits(VectorKernels.distance(rows(r), qvecs(j), metric)))
          mismatches += 1
        j += 1
      }
      r += 1
    }
    for (_ <- 1 to Warmup) { sequential(); interleaved() }
    // alternate the two forms round by round so drift hits both alike
    val seqNs = new Array[Double](Rounds)
    val interNs = new Array[Double](Rounds)
    for (i <- 0 until Rounds) {
      seqNs(i) = timed(() => sequential())
      interNs(i) = timed(() => interleaved())
    }
    if (sink == 42.0) println("") // keeps the scored values live
    def median(a: Array[Double]) = a.sorted.apply(a.length / 2)
    Result(name, dim, median(seqNs), median(interNs), mismatches)
  }
}
