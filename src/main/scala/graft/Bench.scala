package graft

/** Driver-run benchmark: times every declared query at SPARK_GRAFT_SF_DIR and
  * prints exactly ONE JSON line. Queries are forced through the `noop` sink —
  * `.count()` would let Catalyst prune the very projections being measured.
  * One warmup pass at sf0.001 amortizes JVM/codegen startup so the numbers
  * reflect steady-state throughput (what a long-running cluster job sees).
  */
object Bench {
  /** `SPARK_GRAFT_CPUS` as a positive core count, `default` when unset. The
    * count is written unquoted into the JSON lines and into the artifact file
    * name, and `Verify`/`Sf1Bench` put it into `local[n]` and the shuffle
    * partition count, so anything else (`*` is valid for `local[*]`) fails at
    * startup rather than producing invalid JSON or failing inside Spark. */
  private[graft] def parseCpus(raw: Option[String], default: Int = 4): Int = raw match {
    case None => default
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val spark = Session.local(cpus)

    def runOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      } finally
        // drop any localCheckpoint blocks the query left behind: each run
        // rebuilds its frames from parquet, and without this sweep leaked
        // blocks from ~380 queries compound into GC pressure that skews
        // every later timing (r9: q336 93 s in the driver run, 4.5 s clean)
        graft.plans.Checkpoints.freeAll(spark)
      (System.nanoTime() - t0) / 1e9
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach(runOnce(_, "/root/testdata/sf0.001")) // warmup: JIT + codegen
    // Adaptive repeats (r10: the flat 409×3 policy put the driver run past
    // its wall-clock budget — rc=124, no artifact). Policy: min-of-2 for
    // every query whose first run lands under 8 s — the second run strips
    // the cold-parquet-read excess of the first (the sf0.001 warmup cannot
    // prime the sf0.1 cache; the r11 trial measured single runs ~1.3–1.5×
    // above warm history) — and a SINGLE run for the ≥8 s heavies, whose
    // documented ±2× drift bands dwarf repeat noise anyway. r11 sealed
    // arithmetic: 3×665 s ≈ 2,000 s flat (the r10 kill) vs ≈ 1,250 s here,
    // leaving warmup + JVM boot inside the driver budget with margin.
    val singleThreshold = 8.0
    val results = names.map { n =>
      val first = runOnce(n, sfDir)
      if (first < 0) n -> -1.0
      else if (first >= singleThreshold) n -> first
      else {
        val second = runOnce(n, sfDir)
        n -> (if (second < 0) first else math.min(first, second))
      }
    }

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus%d,"stat":"min2_lt${singleThreshold}%.0fs_else_single"}"""
    println(line)
    // r11 post-mortem: the full line (~15 KB for 426 queries) exceeds the
    // driver's stdout-tail capture window, so the driver parsed NOTHING from
    // a successful run (PERF_r11 per_query:{} / parsed:null). Emit a second,
    // SHORT summary line AFTER it — same metric/value, no per-query map —
    // guaranteed inside any tail window, so the total always parses.
    val shortLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size}%d,"cpus":$cpus%d,"sf":"$sfDir","queries_in":"BENCH_FULL.json"}"""
    println(shortLine)
    // the driver's stdout-tail capture is lossy past ~4 KB, which truncated
    // the per-query map in earlier rounds — persist the complete artifact
    // too, so round-over-round comparison never needs reconstruction. Also
    // write a per-core-count copy: the driver runs the bench at BOTH 32 and
    // 8 cores in one session, and in r11 the second run clobbered the first.
    for (path <- Seq("/root/repo/BENCH_FULL.json",
        s"/root/repo/BENCH_FULL_c$cpus.json"))
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(path),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}") }
    spark.stop()
  }
}
