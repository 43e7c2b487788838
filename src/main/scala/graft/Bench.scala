package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.gateway.JValue
import graft.gateway.JValue._

/** The driver's benchmark main: times every [[SparkEntry.queries]] entry
  * and writes the artifact (`bench_out.json` plus one summary line).
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (or argv(0)) names the fixture,
  * `SPARK_GRAFT_CPUS` the local cores, `SPARK_GRAFT_BENCH_OUT` the
  * artifact path, `SPARK_GRAFT_CONC=N` switches to the throughput mode
  * (N threads drain the corpus) and `SPARK_GRAFT_BENCH_GC` forces a GC
  * after every sequential run.
  */
object Bench {

  /** Timed runs per query (per sweep in the throughput mode): run 1 is
    * the COLD time (fresh plan + codegen/JIT), run 2 the STEADY time.
    */
  val Repeat = 2

  /** Fixture dir resolution (VERDICT r16 #3): argv(0) wins, the env is
    * the fallback — `runMain graft.Bench /tmp/sf100x` used to silently
    * bench the env/default dir (graft.Verify takes positional args, so
    * the asymmetry cost a measurement run). More than one argument is
    * an error, not a guess.
    */
  private[graft] def resolveSfDir(args: Array[String],
      env: Map[String, String]): Either[String, String] =
    if (args.length > 1)
      Left(s"unexpected arguments: ${args.drop(1).mkString(" ")} " +
        "(usage: graft.Bench [sfDir])")
    else
      Right(args.headOption.getOrElse(
        env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")))

  /** (total jiffies, steal jiffies) from /proc/stat — the hypervisor
    * steal counter. This box (r17 finding) is throttled in BURSTS at the
    * hypervisor level (cumulative steal exceeded cumulative user time in
    * one session): a burst landing inside a timed run inflates it up to
    * 25x with nothing in loadavg to show for it. Stamping the run's
    * steal fraction makes a throttled artifact self-identifying, exactly
    * like the loadavg stamp (round 7's lesson, same class).
    */
  private def cpuTicks(): (Long, Long) =
    try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // Sum only user..steal (first 8 fields): guest/guest_nice are
      // already folded into user/nice by the kernel, so adding them
      // would inflate the denominator and understate steal (ADVICE r17).
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  /** Steal percentage between two [[cpuTicks]] snapshots; -1 when either
    * snapshot failed (tick0 == 0 would otherwise silently turn the stamp
    * into cumulative-since-boot — ADVICE r17).
    */
  private[graft] def stealBetween(t0: (Long, Long), t1: (Long, Long)): Double =
    if (t0._1 > 0 && t1._1 > t0._1)
      100.0 * (t1._2 - t0._2) / (t1._1 - t0._1)
    else -1.0

  /** The run's environment, stamped into both modes' artifacts so a
    * load- or steal-inflated record is self-identifying (round 7's
    * official bench ran on a busy machine and read 1.7x slower than an
    * idle re-run): the 1/5/15-min load averages at completion ([-1] when
    * unreadable), the steal percentage over the timed window only — a
    * window spanning session build + warmup would dilute a burst confined
    * to one sweep (ADVICE r17) — and the machine's core count.
    */
  private[graft] final case class Stamp(loadavg: Seq[Double], stealPct: Double, cores: Int)

  /** Runs `timed` and stamps it. */
  private def stamped[T](timed: => T): (T, Stamp) = {
    val tick0 = cpuTicks()
    val result = timed
    val stealPct = stealBetween(tick0, cpuTicks())
    val loadavg =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
        .split("\\s+").take(3).map(_.toDouble).toSeq
      catch { case _: Throwable => Seq(-1.0) }
    (result, Stamp(loadavg, stealPct, Runtime.getRuntime.availableProcessors))
  }

  /** One query's sequential outcome: every run's seconds, and the error
    * message when any run threw.
    */
  private[graft] final case class QueryRun(name: String, times: Seq[Double], err: Option[String])

  private def round(x: Double, places: Int): Double = {
    val scale = math.pow(10, places)
    math.round(x * scale) / scale
  }

  /** Names every prior round's summary line published: the driver's
    * round-over-round PERF comparison reads per-query data from the
    * summary line only, so a name that slips out of the slowest-5 window
    * reads as "dropped_from_bench" (r17: p43/p68 flagged when p94's
    * steal-inflated run shifted the window). Pinning them keeps the
    * printed set growing only.
    */
  private val PinnedNames = Seq(
    "p94_lsh_tuning_card", "p118_cluster_histogram", "p44_pq_adc_topk",
    "p43_pq_assign", "p68_cluster_best_keep", // BENCH_r16 line
    "p55_editdist_pairs", "p06_simhash_pairs") // BENCH_r17 line

  /** The sequential mode's two lines: the full record (every query's
    * steady seconds, `{"err": ...}` for a failed one) and the compact
    * summary printed last, which the driver recovers from a bounded log
    * tail (the full per-query dict overflows it): totals plus the
    * slowest queries and [[PinnedNames]], full detail in `outPath`.
    * A failed query is left out of `cold`/`steady` and counted in
    * `errors`: timed as ~0 s it would silently shrink the totals. `value`
    * stays the cold total, the number rounds 1-8 recorded.
    */
  private[graft] def sequentialLines(runs: Seq[QueryRun], stamp: Stamp, workers: String,
      sfDir: String, outPath: String): (JObj, JObj) = {
    val ok = runs.filter(_.err.isEmpty)
    val cold = ok.map(_.times.head).sum
    val steady = ok.map(_.times.last).sum
    val env = Vector(
      "loadavg" -> JArr(stamp.loadavg.map(num).toVector),
      "cores" -> num(stamp.cores.toLong),
      "workers" -> JStr(workers),
      "repeat" -> num(Repeat.toLong),
      "errors" -> num((runs.size - ok.size).toLong),
      "steal_pct" -> num(round(stamp.stealPct, 2)),
      // No serving mode is left; the key stays for readers that parse it.
      "serve" -> JBool(false),
      "cold" -> num(cold),
      "steady" -> num(steady))
    val queries = runs.map {
      case QueryRun(name, _, Some(msg)) => name -> JObj("err" -> JStr(msg))
      case QueryRun(name, times, None) => name -> num(times.last)
    }
    val full = JObj(Vector("metric" -> JStr("total"), "value" -> num(cold),
      "unit" -> JStr("sec"), "queries" -> JObj(queries.toVector), "sf" -> JStr(sfDir)) ++ env)
    val byName = ok.map(r => r.name -> r.times.last).toMap
    val top = (ok.sortBy(-_.times.last).take(5).map(_.name) ++
      PinnedNames.filter(byName.contains)).distinct
    val summary = JObj(Vector("metric" -> JStr("total"), "value" -> num(round(cold, 3)),
      "unit" -> JStr("sec"),
      "queries" -> JObj(top.map(n => n -> num(round(byName(n), 2))).toVector),
      "sf" -> JStr(sfDir)) ++ env :+ ("detail" -> JStr(outPath)))
    (full, summary)
  }

  /** The throughput mode's one line: per-sweep wall clock and the failed
    * queries by name (first 20), so an artifact with errors is
    * diagnosable from the record alone.
    */
  private[graft] def throughputLine(conc: Int, sweeps: Seq[(Double, Seq[String])],
      stamp: Stamp, queries: Int, sfDir: String): JObj = {
    val failed = sweeps.flatMap(_._2).distinct.take(20).map(s => JStr(s.take(120)))
    JObj("metric" -> JStr("total"), "value" -> num(sweeps.head._1), "unit" -> JStr("sec"),
      "mode" -> JStr("throughput"), "conc" -> num(conc.toLong), "serve" -> JBool(false),
      "sweeps" -> JArr(sweeps.map(s => num(s._1)).toVector),
      "cold" -> num(sweeps.head._1), "steady" -> num(sweeps.last._1),
      "errors" -> num(sweeps.map(_._2.size).sum.toLong), "failed" -> JArr(failed.toVector),
      "loadavg" -> JArr(stamp.loadavg.map(num).toVector),
      "steal_pct" -> num(round(stamp.stealPct, 2)),
      "queries" -> num(queries.toLong), "sf" -> JStr(sfDir))
  }

  /** Writes `record` to `outPath`, stops the session and prints `lines`.
    * The driver parses the last line from the log tail; sbt prefixes and
    * truncation made round-1's line unrecoverable, so the record is also
    * persisted, and the lines come after `spark.stop()` so no shutdown
    * logging follows them.
    */
  private def publish(spark: SparkSession, outPath: String, record: JValue,
      lines: Seq[JValue]): Unit = {
    try Files.write(Paths.get(outPath), (record.render + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    spark.stop()
    lines.foreach(l => println(l.render))
  }

  /** Executes the already-compiled physical plan end to end. A DataFrame
    * `.count()` would let Catalyst prune the projections away; `toRdd`
    * keeps every output column materialized, matching the DuckDB
    * fetchall comparison in tools/bench_duckdb.py without driver
    * serialization.
    */
  private def execute(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
    fn(spark, sfDir).queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val sfDir = resolveSfDir(args, sys.env) match {
      case Right(d) => d
      case Left(msg) => System.err.println(s"graft.Bench: $msg"); sys.exit(2); return
    }
    val workers = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val conc = math.max(1, sys.env.get("SPARK_GRAFT_CONC").map(_.toInt).getOrElse(1))
    val spark = SparkEntry.sessionBuilder(workers.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    if (conc > 1) {
      // Throughput mode: N worker threads drain the corpus concurrently
      // (the gateway's posture: overlapping requests on one shared
      // context, each on its own thread; Spark's FIFO scheduler
      // interleaves their jobs). Wall clock per sweep is the metric here
      // (per-query numbers under contention are not attributable); pair
      // it against tools/bench_duckdb.py --jobs N.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
      val (sweeps, stamp) = stamped((1 to Repeat).map { sweep =>
        val t0 = System.nanoTime()
        val futs = queries.map { case (name, fn) =>
          pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] =
              try { execute(spark, sfDir, fn); None }
              catch { case e: Throwable => Some(name + ": " + e.getClass.getSimpleName) }
              finally graft.ops.CacheScope.releaseCurrent()
          })
        }
        val errs = futs.flatMap(_.get())
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        System.err.println(s"[bench] conc sweep $sweep: $dt errors=${errs.size}")
        (dt, errs)
      })
      pool.shutdown()
      val line = throughputLine(conc, sweeps, stamp, queries.size, sfDir)
      publish(spark, outPath, line, Seq(line))
      return
    }
    val (runs, stamp) = stamped(queries.map { case (name, fn) =>
      var err: Option[String] = None
      val times = (1 to Repeat).map { i =>
        val t0 = System.nanoTime()
        // A query that throws must NOT be timed as ~0 s and silently
        // shrink the totals: record the error; sequentialLines flags it
        // and excludes it from the cold/steady sums.
        try execute(spark, sfDir, fn)
        catch {
          case e: Throwable =>
            val msg = (e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("")).take(160)
            err = Some(msg)
            System.err.println(s"[bench] $name FAILED run $i: $msg")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // Clear persisted blocks OUTSIDE the timed region after EVERY run
        // (not just between repeats): operators that persist for
        // correctness (GlobalRank's pinned range partitioning in
        // q22/p30/p57/p81) never unpersist — their blocks otherwise
        // accumulate across the corpus run and later queries pay
        // eviction/GC for data they never read (p58 measured 4.0–4.5 s
        // mid-corpus vs 0.7 s standalone). Each query is measured from
        // the same clean block-manager state its standalone measurement
        // has; repeats also re-materialize persists.
        // Drain the CacheScope registry first: it unpersists every
        // operator-tracked persist and would otherwise retain the plan
        // trees for the whole corpus run; clearCache() then drops any
        // untracked cached relation.
        graft.ops.CacheScope.releaseCurrent()
        spark.catalog.clearCache()
        // SPARK_GRAFT_BENCH_GC=1 additionally forces a GC outside the
        // timed region, letting ContextCleaner reap the broadcast blocks
        // earlier queries leaked into storage memory — isolates
        // heap-accumulation effects from plan costs when a query measures
        // slower mid-corpus than standalone.
        if (sys.env.contains("SPARK_GRAFT_BENCH_GC")) System.gc()
        if (i < Repeat) System.err.println(s"[bench] $name run $i: $dt")
        dt
      }
      QueryRun(name, times, err)
    })
    val (full, summary) = sequentialLines(runs, stamp, workers, sfDir, outPath)
    publish(spark, outPath, full, Seq(full, summary))
  }

  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    // Warmup outside the timed region: JIT/codegen paths, parquet footers,
    // and one of each heavy executor machinery path (shuffle join, window,
    // hash aggregate, higher-order lambdas, regex, md5) over a synthetic
    // range — so measured queries pay their own data-processing cost, not
    // the JVM's one-time class-load/JIT of Spark internals. No testdata
    // table is touched beyond footer/count, keeping the timed scans cold.
    Tables.names.foreach(n => Tables.t(spark, sfDir, n).count())
    spark.range(1000000).selectExpr("sum(id)").collect()
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val a = spark.range(100000).select(
      col("id"), (col("id") % 97).as("k"),
      concat_ws(" ", lit("w"), col("id").cast("string"), lit("x y z")).as("text"))
    val b = spark.range(1000).select((col("id") % 97).as("k"), col("id").as("v"))
    a.join(b, "k")
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("nhit", size(filter(col("toks"), w => w.isin("w", "x"))))
      .withColumn("sh", expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))"))
      .withColumn("h", conv(substring(md5(col("text")), 1, 14), 16, 10))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("id"))))
      .groupBy(col("k")).agg(count(lit(1)).as("n"), collect_set(col("nhit")).as("s"))
      .queryExecution.toRdd.count()
    // Second warmup wave: the executor machinery the first wave misses
    // but the corpus leans on — higher-order lambda evaluation
    // (aggregate/zip_with), object/sketch aggregates (approx_percentile,
    // HLL, collect_list+sort_array), min_by/max_by, countDistinct's
    // distinct rewrite, broadcast joins on BOTH code paths (hash +
    // nested-loop), posexplode, translate/regexp_replace, and graft's
    // own codegen'd expressions (their generated classes compile on
    // first use). Still synthetic ranges only — no testdata is touched,
    // so the timed scans stay cold.
    graft.functions.GraftFunctions.register(spark)
    val v = spark.range(2000).select(
      col("id"), (col("id") % 7).as("g"),
      concat_ws(" ", lit("alpha beta"), col("id").cast("string")).as("s"),
      expr("transform(sequence(0, 15), i -> cast(id % (i + 2) as double))").as("vec"),
      expr("transform(sequence(0, 7), i -> struct(concat('t', i % 5) as t, id % 9 as w))").as("ents"))
    val tiny = spark.range(8).select(col("id").as("q"),
      expr("transform(sequence(0, 15), i -> cast(id + i as double))").as("qv"))
    v.join(broadcast(tiny), expr("id % 11 = q"), "left")
      .withColumn("dot", expr("aggregate(zip_with(vec, qv, (x, y) -> x * y), 0D, (a, b) -> a + b)"))
      .withColumn("rh", expr("rolling_hash(s)"))
      .withColumn("vd", expr("vec_dot(vec, vec)"))
      .withColumn("wh", expr("winnow_hashes(s, 4, 2)"))
      .withColumn("tr", length(translate(regexp_replace(col("s"), "[0-9]+", "#"), "#", "")))
      .select(col("g"), col("dot"), col("rh"), col("vd"), col("tr"),
        posexplode(col("ents")).as(Seq("p", "e")))
      .groupBy(col("g"))
      .agg(
        countDistinct(col("e.t")).as("cd"),
        approx_count_distinct(col("rh")).as("acd"),
        min_by(col("p"), struct(col("dot"), col("p"))).as("mb"),
        expr("approx_percentile(dot, array(0.5, 0.9))").as("ap"),
        expr("percentile(tr, 0.5)").as("pc"),
        sort_array(collect_list(struct(col("p"), col("dot")))).as("arr"))
      .withColumn("agg2", expr("aggregate(transform(arr, x -> x.dot), 0D, (a, b) -> a + b)"))
      .queryExecution.toRdd.count()
    // Third wave: machinery the round-9 additions lean on that the first
    // two waves miss — the stacked map-explode + countDistinct profile
    // shape, widened-decimal arithmetic, date_trunc keyed aggregation,
    // bin()/bit-length sums, struct-max argmax, and the anti-join path.
    // Synthetic ranges only, as above.
    import org.apache.spark.sql.functions.{broadcast => _, _}
    val w3 = spark.range(50000).select(
      col("id"), (col("id") % 5).cast("string").as("g"),
      (col("id") % 1000).as("k"),
      timestamp_micros(col("id") * 1000000L).as("ts"))
    w3.select(explode(map(
        lit("a"), col("id").cast("string"), lit("b"), col("g")))
        .as(Seq("cn", "v")))
      .groupBy(col("cn"))
      .agg(count(lit(1)).as("nr"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("nn"),
        countDistinct(col("v")).as("nd"))
      .queryExecution.toRdd.count()
    val dec = "decimal(38,0)"
    val daily = w3.groupBy(col("g"), date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val nDec = col("n").cast(dec)
    val stats = daily.groupBy(col("g")).agg(
      count(lit(1)).as("ndy"), sum(nDec).as("s"), sum(nDec * nDec).as("ss"))
    daily.join(stats, "g")
      .select(((col("ndy").cast(dec) * col("n").cast(dec)) -
        col("s").cast(dec)).as("d2"))
      .select((col("d2") * col("d2") >= lit(4).cast(dec)).as("f"))
      .queryExecution.toRdd.count()
    w3.groupBy(col("k")).agg(
        max_by(col("g"), struct(col("id"), col("g"))).as("mb"),
        max(struct(col("id"), col("g"))).getField("id").as("mx"),
        sum(length(bin(col("id") + 1)) - 1).as("sb"))
      .queryExecution.toRdd.count()
    w3.select(col("id"))
      .join(w3.filter(col("id") % 3 === 0).select(col("id")), Seq("id"), "left_anti")
      .queryExecution.toRdd.count()
  }
}
