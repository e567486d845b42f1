package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{FeModel, FixedEffects, Glm, Ols}
import graft.ops.{Dummies, Grouped, Lags}
import graft.queries.{CoreQueries, Registry}

/** One benchmark run: one JVM, one `SparkSession`, one closed-loop
  * client. Set-up opens the session and runs one untimed warm pass over
  * the inputs `gen.py` wrote; then measured passes start until
  * `--seconds` is used up. A pass runs every op of the workload once, in
  * an order shuffled by the seed; an op is one public graft call plus the
  * action that consumes its result. Everything measured and every op
  * outcome goes to `run.json`; `run.py` checks the outcomes and
  * `report.py` turns the spans into per-layer figures.
  *
  * With `--trace 1` at least three passes run, untraced / traced /
  * untraced (the [[Tracer]] is registered only for traced ones), so the
  * tracing overhead is measured against untraced passes of the same run
  * with a linear warm-up drift cancelled.
  */
object Main {
  /** An op running longer than this is cancelled and counts as failed. */
  val OpTimeoutS = 60L

  final case class Op(name: String, run: () => Map[String, Any])

  final case class Call(op: String, pass: Int, layer: String, name: String, start: Long, end: Long)

  final class Ctx(val spark: SparkSession, val data: String) {
    @volatile var pass = 0
    @volatile var op = ""
    @volatile var tracing = false
    val calls = mutable.ArrayBuffer.empty[Call]

    /** A call into one graft layer, as a span when the pass is traced. */
    def call[T](layer: String, name: String)(f: => T): T = {
      val t0 = System.currentTimeMillis()
      try f
      finally if (tracing) calls += Call(op, pass, layer, name, t0, System.currentTimeMillis())
    }

    def read(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cpus = args("cpus").toInt
    val out = Paths.get(args("out"))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args("local-dir"))
      .config("spark.sql.warehouse.dir", s"${args("local-dir")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val ctx = new Ctx(spark, args("data"))

    val noFacts = () => Map.empty[String, Any]
    val (ops, setupFacts) = workload match {
      case "fe_panel" => Workloads.fePanel(ctx)
      case "iter_loops" => (Workloads.iterLoops(ctx), noFacts)
      case "prep_pipeline" => (Workloads.prepPipeline(ctx), noFacts)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val oldGen = ManagementFactory.getMemoryPoolMXBeans.toArray
      .collect { case p: java.lang.management.MemoryPoolMXBean if p.getName.contains("Old Gen") => p }
    var heapPeak = 0L
    var storagePeak = 0L
    val watchdog = Executors.newSingleThreadScheduledExecutor()
    val opRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer

    // isolation: release every block an op left behind before the next
    // op's window opens (blocking, so no removal lands in that window)
    def sweep(): Unit = sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    def runOp(op: Op, pass: Int, traced: Boolean, memoLive: Int): Double = {
      val tag = s"perfbench-$pass-${op.name}"
      sc.addJobTag(tag)
      val cancel = watchdog.schedule(
        new Runnable { def run(): Unit = sc.cancelJobsWithTag(tag) }, OpTimeoutS, TimeUnit.SECONDS)
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val outcome: Either[String, Map[String, Any]] =
        try Right(op.run())
        catch {
          case e: Throwable =>
            e.printStackTrace(System.err)
            Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
      val dt = (System.nanoTime() - n0) / 1e9
      val w1 = System.currentTimeMillis()
      cancel.cancel(false)
      sc.removeJobTag(tag)
      val timedOut = dt > OpTimeoutS
      System.err.println(f"[perfbench] pass $pass ${op.name} $dt%.3f s${outcome.fold(" FAILED: " + _, _ => "")}")
      opRecords += Map(
        "pass" -> pass, "op" -> op.name, "traced" -> traced, "s" -> dt,
        "start" -> w0, "end" -> w1, "memo_live" -> memoLive,
        "error" -> (if (timedOut) Some(s"timed out after $dt s") else outcome.left.toOption),
        "outcome" -> outcome.toOption)
      dt
    }

    def sample(): Unit = {
      oldGen.foreach(p => Option(p.getCollectionUsage).foreach(u => heapPeak = heapPeak max u.getUsed))
      val storage = sc.getExecutorMemoryStatus.valuesIterator.map { case (mx, free) => mx - free }.sum
      storagePeak = storagePeak max storage
    }

    def runPass(pass: Int, traced: Boolean): Double = {
      ctx.pass = pass
      ctx.tracing = traced
      if (traced) sc.addSparkListener(tracer)
      val order = new Random(seed * 1000003L + pass).shuffle(ops)
      var total = 0.0
      for (op <- order) {
        ctx.op = op.name
        // isolation: no memoized fit may serve this op. The entries the
        // ops before it left are counted first: each is one this op could
        // have been served from, had it looked it up.
        val memoLive = CoreQueries.memoKeys
        CoreQueries.evictMemo(memoLive)
        total += runOp(op, pass, traced, memoLive.size)
        sweep()
        sample()
        // a full collection between ops, outside their windows, so no op
        // pays for garbage (or cleaner work) the one before it left
        System.gc()
      }
      if (traced) {
        val deadline = System.nanoTime() + 10000000000L
        while (!tracer.drained && System.nanoTime() < deadline) Thread.sleep(5)
        sc.removeSparkListener(tracer)
      }
      ctx.tracing = false
      passes += Map("pass" -> pass, "traced" -> traced, "s" -> total)
      total
    }

    // the warm pass is set-up, not a measurement; its outcomes are
    // checked like any other pass's
    val w0 = System.nanoTime()
    runPass(0, traced = false)
    val warmS = (System.nanoTime() - w0) / 1e9
    val readyS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // measured passes: a new pass starts while the budget is not used up
    val m0 = System.nanoTime()
    var pass = 1
    def elapsed = (System.nanoTime() - m0) / 1e9
    val minPasses = if (trace) 3 else 1
    while (pass <= minPasses || elapsed < seconds) {
      runPass(pass, traced = trace && pass % 2 == 0)
      pass += 1
    }
    val measureS = elapsed
    watchdog.shutdownNow()

    val result = Map(
      "workload" -> workload,
      "seed" -> seed,
      "cpus" -> cpus,
      "spark_version" -> spark.version,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_s" -> sessionS,
      "warm_s" -> warmS,
      "ready_s" -> readyS,
      "measure_s" -> measureS,
      "ops" -> ops.map(_.name),
      "setup_facts" -> setupFacts(),
      "passes" -> passes.toSeq,
      "op_runs" -> opRecords.toSeq,
      "heap_peak_mb" -> heapPeak / 1048576.0,
      "storage_peak_mb" -> storagePeak / 1048576.0,
      "oracle_sql" -> Workloads.oracles(ops.map(_.name)),
      "trace" -> (if (!trace) None else Some(Map(
        "job_fields" -> Tracer.jobFields,
        "jobs" -> tracer.jobsJson,
        "exec_fields" -> Tracer.execFields,
        "execs" -> tracer.execsJson,
        "calls" -> ctx.calls.toSeq.map(c => Seq(c.pass, c.op, c.layer, c.name, c.start, c.end)))))
    )
    Files.writeString(out.resolve("run.json"), Json(result))
    spark.stop()
  }
}

/** The three workloads' op lists. */
object Workloads {
  import Main.{Ctx, Op}

  private val feXs = Seq("x1", "x2")

  def coef(m: FeModel): Seq[Double] = m.coef.toSeq

  /** The paper's estimator family, called directly in `graft.ml`. */
  def fePanel(ctx: Ctx): (Seq[Op], () => Map[String, Any]) = {
    // untimed references: the one-way model whose clustered SEs one op
    // recomputes every pass (built on first use, in the warm pass), and
    // the small panel fitted in the driver regime, which the distributed
    // op must agree with (built after the measured passes)
    lazy val small = FixedEffects.fit(ctx.read("panel_small"), "y", feXs, Seq("worker", "firm"))
    lazy val oneway =
      FixedEffects.fit(ctx.read("panel"), "y", feXs, Seq("worker"), keep = Seq("firm"))
    def facts() = Map("small_driver_coef" -> coef(small), "small_driver_sweeps" -> small.sweeps)
    val ops = Seq(
      Op("fe_twoway_distributed", () => {
        val m = ctx.call("ml", "FixedEffects.fit")(
          FixedEffects.fit(ctx.read("panel_small"), "y", feXs, Seq("worker", "firm"),
            collectCellLimit = 0L))
        Map("coef" -> coef(m), "n" -> m.n, "sweeps" -> m.sweeps)
      }),
      Op("poisson_fe", () => {
        val m = ctx.call("ml", "Glm.poissonFE")(
          Glm.poissonFE(ctx.read("panel_pois"), "cnt", feXs, Seq("worker", "firm")))
        Map("coef" -> m.coef.toSeq, "n" -> m.n, "irls_iters" -> m.iters,
          "converged" -> m.converged, "dropped" -> m.droppedSeparated)
      }),
      Op("fe_twoway_driver", () => {
        val m = ctx.call("ml", "FixedEffects.fit")(
          FixedEffects.fit(ctx.read("panel"), "y", feXs, Seq("worker", "firm")))
        Map("coef" -> coef(m), "n" -> m.n, "sweeps" -> m.sweeps)
      }),
      Op("fe_oneway", () => {
        val m = ctx.call("ml", "FixedEffects.fit")(
          FixedEffects.fit(ctx.read("panel"), "y", feXs, Seq("worker")))
        Map("coef" -> coef(m), "n" -> m.n, "sweeps" -> m.sweeps)
      }),
      Op("fe_se_clustered", () => {
        val se = ctx.call("ml", "FeModel.seClustered")(oneway.seClustered("firm"))
        Map("se" -> se.toSeq, "coef" -> coef(oneway))
      }),
      Op("ols_nofe", () => {
        val m = ctx.call("ml", "Ols.fit")(Ols.fit(ctx.read("panel"), "y", feXs))
        Map("coef" -> m.coef.toSeq, "n" -> m.n)
      })
    )
    (ops, () => facts())
  }

  private def registryOp(ctx: Ctx, name: String): Op = {
    val q = Registry.byName(name)
    Op(name, () => {
      val df = ctx.call("queries", "build")(q.fn(ctx.spark, ctx.data))
      val rows = ctx.call("queries", "action")(df.collect())
      val cols = df.schema.fieldNames.toSeq
      // the warm pass keeps the rows for the oracle check in run.py;
      // every pass keeps an order-independent fingerprint
      Map("rows" -> rows.length, "fingerprint" -> fingerprint(rows), "columns" -> cols) ++
        (if (ctx.pass == 0) Map("data" -> rows.toSeq.map(r => r.toSeq)) else Map.empty)
    })
  }

  /** Row count is reported apart; this is the sum of 64-bit row hashes. */
  def fingerprint(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001")
      h += scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32 |
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
    }
    java.lang.Long.toHexString(h)
  }

  def iterLoops(ctx: Ctx): Seq[Op] =
    Seq("q205_bradley_terry", "q166_pagerank", "q186_kcore", "q44_dedup_components")
      .map(registryOp(ctx, _))

  def prepPipeline(ctx: Ctx): Seq[Op] = {
    val panelOps = Seq(
      Op("dummies", () => {
        val in = ctx.read("panel")
        val df = ctx.call("ops", "Dummies.allDummies")(Dummies.allDummies(in, Seq("region", "sector")))
        val added = df.columns.toSeq.diff(in.columns.toSeq)
        val r = ctx.call("bench", "action")(
          df.agg(count(lit(1)), added.map(c => sum(col(c)).cast("long")): _*).head())
        Map("rows" -> r.getLong(0), "added" -> added,
          "sums" -> added.indices.map(i => r.getLong(i + 1)))
      }),
      Op("grouped_transform", () => {
        val df = ctx.call("ops", "Grouped.transform")(Grouped.transform(ctx.read("panel"),
          Seq("worker"), Seq(avg("y").as("y_mean"))))
        val r = ctx.call("bench", "action")(
          df.agg(count(lit(1)), sum(col("y") - col("y_mean")), sum(abs(col("y_mean")))).head())
        Map("rows" -> r.getLong(0), "dev_sum" -> r.getDouble(1), "abs_mean_sum" -> r.getDouble(2))
      }),
      Op("lags", () => {
        val df = ctx.call("ops", "Lags.makeLags")(Lags.makeLags(ctx.read("panel"),
          Seq("worker"), Seq("year"), Seq("y"), nLagsBack = 2, nLagsForward = 1, fillZeros = true))
        val mi = Seq(1, 2, -1).map(k => s"y_lag_${k}_mi")
        val r = ctx.call("bench", "action")(
          df.agg(count(lit(1)), mi.map(c => sum(col(c))): _*).head())
        Map("rows" -> r.getLong(0), "missing" -> mi.indices.map(i => r.getDouble(i + 1)))
      }),
      Op("grouped_aggregate", () => {
        val df = ctx.call("ops", "Grouped.aggregate")(Grouped.aggregate(ctx.read("panel"),
          Seq("firm", "year"), Seq(count(lit(1)).as("n"), sum("y").as("sy"), avg("x1").as("mx1"))))
        val r = ctx.call("bench", "action")(df.agg(count(lit(1)), sum("n")).head())
        Map("rows" -> r.getLong(0), "n_total" -> r.getLong(1))
      })
    )
    Seq("q54_dedup_pipeline", "q21_minhash_pairs", "q86_unigram_tokenize", "q47_tfidf_top",
      "q23_ngram_jaccard", "q71_bpe_tokenize").map(registryOp(ctx, _)) ++ panelOps
  }

  def oracles(ops: Seq[String]): Map[String, Any] =
    ops.flatMap(o => Registry.byName.get(o).map(q => o -> q.oracle)).toMap
}
