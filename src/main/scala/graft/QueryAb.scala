package graft

/** Alternating A/B of one SparkEntry query under two runtime confs —
  * the bench-attribution discipline (same host, same JVM, interleaved
  * samples) applied to a single query instead of the storage legs.
  *
  * Built for the q42_ann_ivf watch (VERDICT r11 what's-wrong #2): the
  * r10→r11 artifact moved 2.04→3.27 s and the suspected cause is the
  * r11 AQE initial-partition floor (shuffles START at 8×cores = 256 and
  * coalesce down), which adds scheduling/coalescing overhead to a query
  * of many SMALL shuffles. The floor is runtime-settable, so one JVM
  * can alternate it per sample — binary-identical everything else.
  *
  * Usage: `runMain graft.QueryAb <query> [confKey] [valueA] [valueB]`
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_AB_REPEATS).
  * Prints one JSON line with every interleaved sample — spread IS the
  * evidence, no min/median hiding. */
object QueryAb {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q42_ann_ivf")
    val confKey = args.lift(1).getOrElse(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_AB_REPEATS", "4").toInt
    val spark = GraftSession.build()
    val valueA = args.lift(2).getOrElse(
      spark.conf.getOption(confKey).getOrElse("256"))
    val valueB = args.lift(3).getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions"))

    def run(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      System.gc()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (spark.sparkContext.getRDDStorageInfo.nonEmpty &&
          System.nanoTime() < deadline) {
        Thread.sleep(200); System.gc()
      }
      Thread.sleep(300)
      sec
    }
    run(); run() // warm codegen + page cache, both unrecorded
    val samples = (1 to repeats).flatMap { _ =>
      Seq(valueA, valueB).map { v =>
        spark.conf.set(confKey, v)
        val s = run()
        System.err.println(f"[ab] $name $confKey=$v ${s}%.2f s")
        (v, s)
      }
    }
    spark.stop()
    def arr(v: String) = samples.filter(_._1 == v).map(_._2)
      .map(s => f"$s%.2f").mkString("[", ",", "]")
    println(s"""{"metric":"query_ab","query":"$name","conf":"$confKey",""" +
      s""""a":"$valueA","b":"$valueB","a_samples":${arr(valueA)},""" +
      s""""b_samples":${arr(valueB)},"sf":"$dir"}""")
  }
}
