package graft.tools

import graft.Session

/** Median-of-3 yardstick for the slow non-headline bench queries (r13
  * verdict #5, extending the TriangleProfile @ c5f0dcc treatment to the whole
  * >2 s tail). BENCH_r{N}.json publishes single/min draws; on this
  * time-shared box those swing ±20–50% on unchanged code (r13's
  * triangles −27% / clustering +17% with a byte-identical wedge join).
  * Round-over-round comparisons of anything slower than ~2 s should
  * use THIS table, not the bench line.
  *
  * Pass 1 runs every registry query once (same noop-sink, cold-cache,
  * GC-per-query discipline as graft.Bench); every query whose single
  * draw exceeds the threshold then gets two more draws and a
  * median-of-3. HEADLINE queries get the median-of-3 unconditionally
  * (r14 verdict #3: the queries whose round-over-round delta the
  * verdict adjudicates were exactly the ones with no median record —
  * q1's +33% single-draw outlier took a session to un-attribute), and
  * every query emits a line — fast ones with their single draw — so
  * the table COVERS the registry instead of sampling its tail.
  *
  * Usage: runMain graft.tools.MedianBench [thresholdSec]
  *   SPARK_GRAFT_SF_DIR picks the scale (default sf0.1).
  */
object MedianBench {
  def main(args: Array[String]): Unit = {
    val threshold = args.headOption.map(_.toDouble).getOrElse(2.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.builder("graft-median-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def once(q: graft.queries.QueryDef): Double = {
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      dt
    }
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.2f",
      Double.box(v))

    val headline = graft.SparkEntry.headlineQueries.map(_.name).toSet
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val all = graft.queries.Registry.all
      .filter(q => only.forall(_.contains(q.name)))
    // warm-up: first-query JVM/codegen overhead must not inflate the
    // first draw past the threshold artificially
    all.headOption.foreach(q => try once(q) catch { case _: Throwable => })

    // headline first: if the box degrades mid-run, the queries the
    // verdict compares still got their full draws (graft.Bench's rule)
    val firstDraws = all.sortBy(q => !headline.contains(q.name))
      .map(q => q -> once(q))
    val deep = firstDraws.filter { case (q, t) =>
      t > threshold || headline.contains(q.name)
    }
    System.err.println(s"[median-bench] ${deep.size} queries get " +
      s"median-of-3 (headline or over $threshold s, of ${all.size})")
    val sf = sfDir.split('/').last
    firstDraws.foreach { case (q, d1) =>
      val isDeep = d1 > threshold || headline.contains(q.name)
      val ds = (if (isDeep) Seq(d1, once(q), once(q)) else Seq(d1)).sorted
      val med = ds(ds.length / 2)
      val h = if (headline.contains(q.name)) ",\"headline\":true" else ""
      println(s"""{"query":"${q.name}","median_sec":${f(med)},"draws":[${ds.map(f).mkString(",")}],"sf":"$sf"$h}""")
    }
    println(s"""{"workload":"median_bench","threshold_sec":$threshold,"median3_queries":${deep.size},"total_queries":${all.size}}""")
    spark.stop()
  }
}
