package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Benchmark main: runs every `SparkEntry.queries` entry against
 * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line and writes the same JSON to
 * `SPARK_GRAFT_BENCH_OUT` (default `bench_out.json` in the cwd) so the result
 * survives sbt's `[info]`-prefixed, interleaved stdout.
 *
 * Timeout survivability: the output file is REWRITTEN after every single
 * query measurement (atomic tmp-file + move), so even if the process is
 * killed mid-run the artifact on disk is parseable and covers everything
 * measured so far. Unmeasured queries simply aren't in `queries` yet and
 * `complete` is false.
 *
 * Budget: pass 1 times every query once (that is the floor for a usable
 * artifact); additional passes — up to `SPARK_GRAFT_BENCH_RUNS` (default 3)
 * total — refine the per-query minimum only while the
 * `SPARK_GRAFT_BENCH_BUDGET` wall-clock budget (seconds, default 900,
 * measured from JVM start) has time remaining. On this box neighbor
 * contention swings run times 8-13x, so the minimum across passes is the
 * least contended observation and the best estimate of the plan's
 * intrinsic cost; a budget exhaustion costs refinement, never coverage.
 *
 * Fidelity: queries are executed with a `noop`-format write, not `count()` —
 * a count lets Catalyst prune every projected column (an XPath-extraction
 * query would time only the scan), while the noop sink materializes every
 * output column without paying filesystem writes.
 *
 * A query that throws is recorded in `errors` with value -1 in `queries` —
 * never a bogus wall time.
 */
object Bench {
  private def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Real (non-sentinel) timings only — a query that errored holds -1.0 in
   * `best` and must not count as measured (the r14 sf10 partial recorded
   * `measured:167/167, complete:true` over 62 sentinels; the gate's
   * scaling-artifact check trusts these fields, so they must be honest). */
  def measuredCount(best: collection.Map[String, Double]): Int =
    best.values.count(_ >= 0)

  /** An artifact is complete ONLY when every query holds a real timing and
   * no error is outstanding. A transient failure superseded by a later
   * successful pass does not block completeness (its error entry and
   * sentinel are both replaced); an unresolved error or an unvisited query
   * does. `claimed` (the end-of-run flush) can only ever lower this. */
  def artifactComplete(claimed: Boolean, names: Seq[String],
                       best: collection.Map[String, Double],
                       errors: collection.Map[String, String]): Boolean =
    claimed && errors.isEmpty &&
      names.forall(n => best.get(n).exists(_ >= 0))

  /** The bench's numeric knobs: `SPARK_GRAFT_BENCH_RUNS` (passes, default
   * 3), `SPARK_GRAFT_BENCH_BUDGET` (wall-clock seconds, default 900) and
   * `SPARK_GRAFT_BENCH_MIN_FREE_GB` (disk floor, default 8). */
  final case class Knobs(runs: Int, budgetSec: Double, minFreeGb: Double)

  /** [[Knobs]] from `env`; a value that does not parse or is out of range
   * fails naming the variable and the value. */
  def knobs(env: collection.Map[String, String] = sys.env): Knobs = {
    def knob[A](name: String, default: String, what: String)(parse: String => Option[A]): A = {
      val v = env.getOrElse(name, default)
      parse(v.trim).getOrElse(throw new IllegalArgumentException(
        s"$name must be $what (got '$v')"))
    }
    Knobs(
      knob("SPARK_GRAFT_BENCH_RUNS", "3", "an integer >= 1")(_.toIntOption.filter(_ >= 1)),
      knob("SPARK_GRAFT_BENCH_BUDGET", "900", "a number of seconds > 0")(
        _.toDoubleOption.filter(_ > 0)),
      knob("SPARK_GRAFT_BENCH_MIN_FREE_GB", "8", "a number of GB >= 0")(
        _.toDoubleOption.filter(_ >= 0)))
  }

  /** Free everything a query left cached, so the next query starts cold.
   * `clearCache` drops the CacheManager entries of the reuse points: an
   * entry whose RDD was unpersisted behind its back stays plan-matched, so
   * a later query with the same reuse point would substitute it and re-read
   * the earlier run's shuffle output, skipping most of its own stages (q71
   * at sf0.1: 1 job instead of 31). The sweep then drops what is left, the
   * `localCheckpoint` RDDs of the components loops and the dedup
   * operators. */
  def freeCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus()
    val Knobs(runs, budgetSec, minFreeGb) = knobs()
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")

    // sorted: deterministic pass order (Map iteration order is arbitrary), so
    // partial artifacts from different runs cover a comparable prefix.
    // SPARK_GRAFT_BENCH_ONLY (comma-separated name prefixes) narrows the set
    // for local iteration — the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // min time per query so far; -1.0 = errored, absent = not yet measured
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    var passesDone = 0

    // Disk-budget honesty (VERDICT r17 #6): the r17 sf100 DNFs surfaced as a
    // raw mid-sweep `No space left on device` that cost the whole chain, not
    // minutes. The harness now records free disk around every query and
    // fails FAST against a named floor: a query is skipped (with a named
    // error) when free space is already below the floor, and a watchdog
    // cancels its Spark jobs if spill drives free space under the floor
    // mid-query — so a disk DNF is a clean, attributed error entry.
    def freeGb: Double = new java.io.File(".").getUsableSpace / 1e9
    // per query: (free GB before, free GB after) from the latest visit
    val diskGb = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()

    def elapsed: Double = (System.nanoTime() - jvmStart) / 1e9

    val spark = Sessions.get("graft-bench", cpus)

    def renderJson(claimed: Boolean): String = {
      val qs = names.flatMap(n => best.get(n).map(v => s"\"" + n + "\":" + v))
        .mkString("{", ",", "}")
      val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}")
      val total = names.flatMap(best.get).filter(_ >= 0).sum
      val complete = artifactComplete(claimed, names, best, errors)
      val disk = diskGb.map { case (k, (b, a)) =>
        f"""\"$k\":[$b%.1f,$a%.1f]""" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"passes_done":$passesDone,"measured":${measuredCount(best)},"of":${names.size},"complete":$complete,"budget_sec":$budgetSec,"elapsed_sec":$elapsed,"disk_floor_gb":$minFreeGb,"disk_gb":$disk,"cpus":$cpus,"master":"${spark.sparkContext.master}","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    }

    // Atomic rewrite-in-place: write a sibling tmp file then move over the
    // target, so a kill mid-write can never leave a truncated artifact.
    def flush(claimed: Boolean): Unit = {
      val target = Paths.get(outPath)
      val tmp = Paths.get(outPath + ".tmp")
      Files.write(tmp, (renderJson(claimed) + "\n").getBytes(StandardCharsets.UTF_8))
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      catch { case _: Throwable =>
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
      }
    }

    flush(claimed = false) // artifact exists before the first query runs

    // warm-up (untimed): JVM/codegen init + parquet footer reads, so the first
    // timed query doesn't absorb one-time session costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    // the XPath expression machinery (JAXP factories, compiled XPath cache)
    // initializes on FIRST use per JVM — q24 is the first xpath query in
    // name order and was absorbing that init as a ±0.5 s wobble across
    // otherwise-identical rounds (VERDICT r10/r11); pay it here instead
    spark.range(1)
      .selectExpr("xpath_string('<a><b>x</b></a>', '/a/b')",
        "xpath_int('<a><b>1</b></a>', '/a/b')")
      .collect()
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")) {
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case e: Throwable => System.err.println(s"warmup $t: $e") }
    }

    def timeQuery(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      val freeBefore = freeGb
      if (freeBefore < minFreeGb) {
        // fail fast BEFORE running: the box cannot absorb another spill
        errors(name) = f"disk budget: $freeBefore%.1f GB free < $minFreeGb%.1f GB floor - skipped"
        if (!best.contains(name) || best(name) < 0) best(name) = -1.0
        diskGb(name) = (freeBefore, freeBefore)
        flush(claimed = false)
        return
      }
      // mid-query watchdog: spill can eat the disk inside ONE query; cancel
      // its jobs at the floor so the failure is a named error, not ENOSPC
      @volatile var queryDone = false
      @volatile var diskKilled = false
      val watchdog = new Thread(() => {
        while (!queryDone) {
          if (freeGb < minFreeGb && !diskKilled) {
            diskKilled = true
            try spark.sparkContext.cancelAllJobs()
            catch { case _: Throwable => () }
          }
          try Thread.sleep(5000) catch { case _: InterruptedException => () }
        }
      }, s"disk-watchdog-$name")
      watchdog.setDaemon(true)
      watchdog.start()
      // the BPE merge-table memo is in-JVM precomputation: min-of-N passes
      // of q95/q118 would otherwise serve pass 1's learning from the memo.
      // Clear it so every timed visit pays its own derivation.
      graft.operators.Bpe.clearArtifacts()
      val t0 = System.nanoTime()
      try {
        execute(fn(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        best(name) = best.get(name).filter(_ >= 0).map(math.min(_, sec)).getOrElse(sec)
        errors.remove(name) // a transient earlier failure is superseded
      } catch {
        case e: Throwable =>
          // backslash first: a '\' in an exception message would otherwise
          // form an illegal JSON escape and void the whole artifact
          val raw = if (diskKilled)
            f"disk budget: spill drove free space under $minFreeGb%.1f GB mid-query; jobs cancelled ($e)"
          else e.toString
          errors(name) = raw
            .replace("\\", " ").replaceAll("[\"\\n\\r\\t]", " ").take(300)
          if (!best.contains(name) || best(name) < 0) best(name) = -1.0
      } finally {
        queryDone = true
        watchdog.interrupt()
        diskGb(name) = (freeBefore, freeGb)
      }
      // reuse points and localCheckpoint blocks otherwise accumulate across
      // queries and passes, and a later pass would read this pass's seeds.
      // Queries are independent, so drop everything once the query is timed.
      freeCaches(spark)
      flush(claimed = false)
    }

    // Pass 1: coverage first — every query exactly once, regardless of budget.
    for (name <- names) timeQuery(name)
    passesDone = 1
    flush(claimed = false)
    // Passes 2..runs: refine minima only while wall-clock budget remains.
    // passes_done counts only passes that visited EVERY query — a pass the
    // budget cut short must not overstate the refinement coverage.
    for (_ <- 2 to runs if elapsed < budgetSec) {
      var visited = 0
      for (name <- names if elapsed < budgetSec) { timeQuery(name); visited += 1 }
      if (visited == names.size) passesDone += 1
      flush(claimed = false)
    }

    flush(claimed = true)
    // Compact total-only summary FIRST (kept for eyeball greps of sbt logs),
    // then the full per-query JSON as the FINAL stdout line: the driver
    // parses the LAST line for its per-query comparison, and the compact
    // line's empty `"queries":{}` was starving it (VERDICT r18 #1 — PERF's
    // n_common was 0 for two rounds). The artifact file already survives
    // truncation, so the full line can safely be last.
    val total = names.flatMap(best.get).filter(_ >= 0).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{},"measured":${best.size},"of":${names.size},"sf":"$sfDir"}""")
    println(renderJson(claimed = true))
    spark.stop()
  }
}
