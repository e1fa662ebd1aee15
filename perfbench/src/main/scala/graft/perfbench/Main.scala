package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Cli, GraftSession, SparkEntry}
import graft.catalog.Lake
import graft.operators.CatalogOps
import graft.sources.Ingest

/** The benchmark's engine side: one JVM, one driver thread, closed loop.
  *
  * usage: graft.perfbench.Main --workload W --seed N --seconds S
  *          --trace 0|1 --lake DIR --source-lake DIR --work DIR
  *          --out FILE --t0-ms EPOCH_MS
  *        graft.perfbench.Main --dump-sql FILE
  *
  * Set-up: a session and a fresh `registerViews()` over `--lake` (the
  * run's private copy), then one warm-up pass, which also writes every
  * op's result for the output check. Set-up time runs from `--t0-ms`,
  * when the JVM was launched, to the first measured op, less the time
  * spent generating refresh batches and checking refresh cycles. Then
  * measured passes until `--seconds` have elapsed. Caches are cleared
  * after every op with the clock stopped. The result file holds raw
  * timings; run.py turns it into metrics. */
object Main {

  private val MB = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("dump-sql") match {
      case Some(path) => dumpSql(path)
      case None       => new Run(a).run()
    }
  }

  /** Every op's check SQL: the `SparkEntry.oracleSql` text of an entry
    * op, the op's own text for a SQL op. */
  private def dumpSql(path: String): Unit = {
    val sql = Workloads.all.values.toSeq.flatMap { w =>
      w.ops.collect {
        case EntryOp(n) if SparkEntry.oracleSql.contains(n) =>
          (w.name, n, SparkEntry.oracleSql(n))
        case SqlOp(n, s)         => (w.name, n, s)
        case MaterializeOp(n, s) => (w.name, n, s)
      }
    }
    val body = sql.groupBy(_._1).map { case (w, ops) =>
      Json.str(w) + ":" + Json.obj(ops.map { case (_, n, s) => n -> Json.str(s) })
    }
    Files.write(Paths.get(path), body.mkString("{", ",", "}").getBytes("UTF-8"))
  }

  private final class Run(a: Map[String, String]) {
    private val workload = Workloads.all(a("workload"))
    private val seed = a("seed").toLong
    private val seconds = a("seconds").toDouble
    private val traced = a("trace") == "1"
    private val work = Paths.get(a("work"))
    private val cores = Runtime.getRuntime.availableProcessors
    private val tracer = new Tracer
    private val gcPeak = GcPeak.install()

    private var spark: SparkSession = _
    private var lake: Lake = _
    private var counters: Option[Counters] = None

    private val opRuns = ArrayBuffer.empty[OpRun]
    private val checks = ArrayBuffer.empty[(String, String)]
    private val refreshChecks = ArrayBuffer.empty[(Int, Boolean, String)]
    private val batchBytes = collection.mutable.Map.empty[Int, Long]

    /** Nanoseconds of input generation and output checking inside the
      * set-up window; set-up time leaves them out. */
    private var harnessNs = 0L
    private def harness[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally harnessNs += System.nanoTime() - t0
    }

    def run(): Unit = {
      setup(a("lake"))
      val refresh =
        if (workload.ops.contains(RefreshCycle)) Some(harness(new Refresh)) else None
      runPass(0, measured = false, refresh)
      val setupS = (System.currentTimeMillis() - a("t0-ms").toLong) / 1e3 - harnessNs / 1e9
      var pass = 1
      // Memory is judged on the measured passes alone: start them from a
      // collected heap and forget the warm-up's peak.
      System.gc()
      gcPeak.reset()
      val t0 = System.nanoTime()
      do { runPass(pass, measured = true, refresh); pass += 1 }
      while (pass <= workload.minPasses || System.nanoTime() - t0 < seconds * 1e9)
      val result = report(setupS)
      spark.stop()
      Files.write(Paths.get(a("out")), result.getBytes("UTF-8"))
      a.get("spans").foreach(writeSpans)
    }

    private def newSession(): SparkSession = {
      val s = GraftSession
        .configure(SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    private def setup(dir: String): Unit =
      tracer.span("setup", "setup", 0) {
        spark = tracer.span("session.create", "setup", 0)(newSession())
        if (traced) {
          val c = new Counters
          spark.sparkContext.addSparkListener(c)
          counters = Some(c)
          tracer.counters = counters
          val sc = spark.sparkContext
          tracer.drain = () => org.apache.spark.perfbench.ListenerBusShim.drain(sc)
        }
        lake = Lake(spark, dir)
        tracer.span("catalog.register", "setup", 0)(lake.registerViews())
      }

    private def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    private def validated(sql: String): String =
      Cli.validateReadOnly(sql).fold(e => throw new IllegalArgumentException(e), identity)

    /** The warm-up pass runs the ops in their listed order, so that the
      * refresh cycle comes last and every other op's checked output is
      * computed over the generated lake; measured passes shuffle them. */
    private def runPass(pass: Int, measured: Boolean, refresh: Option[Refresh]): Unit = {
      val order =
        if (measured) new scala.util.Random(seed * 1000003L + pass).shuffle(workload.ops)
        else workload.ops
      order.foreach(op => runOp(op, pass, measured, refresh))
    }

    private def runOp(op: Op, pass: Int, measured: Boolean, refresh: Option[Refresh]): Unit = {
      val checkDir = work.resolve("check").resolve(op.name).toString
      def sink(df: DataFrame): Unit =
        if (measured) tracer.span("exec", op.name, pass)(noop(df))
        else tracer.span("exec", op.name, pass) {
          df.write.mode("overwrite").parquet(checkDir)
          checks += op.name -> checkDir
        }
      if (op == RefreshCycle) harness(refresh.get.prepare(pass))
      val ms0 = System.currentTimeMillis()
      val id = tracer.spans.size
      val error =
        try {
          tracer.span("op", op.name, pass) {
            op match {
              case EntryOp(n) =>
                val df = tracer.span("operators.build", n, pass)(
                  SparkEntry.queries(n)(spark, lake.dir))
                sink(df)
              case SqlOp(n, sql) =>
                val body = validated(sql)
                tracer.span("catalog.reregister", n, pass)(lake.registerViews())
                sink(tracer.span("catalog.analyze", n, pass)(spark.sql(body)))
              case MaterializeOp(n, sql) =>
                val body = validated(sql)
                tracer.span("catalog.reregister", n, pass)(lake.registerViews())
                val df = tracer.span("catalog.analyze", n, pass)(spark.sql(body))
                val out = if (measured) work.resolve("materialized").resolve(n).toString else checkDir
                tracer.span("sources.write", n, pass)(Ingest.writeParquet(df, out, 1))
                if (!measured) checks += n -> out
              case RefreshCycle => refresh.get.cycle(pass)
            }
          }
          None
        } catch {
          case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(300))
        }
      val span = tracer.spans.find(_.id == id).get
      val noTask = counters.fold(0.0) { c =>
        val ms1 = System.currentTimeMillis()
        (ms1 - ms0 - c.busyMs(ms0, ms1)) / 1e3
      }
      counters.foreach(_.forgetIntervals())
      opRuns += OpRun(op.name, pass, measured, span.seconds, error, noTask)
      // Clock stopped: nothing an op cached may serve the next op.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      if (op == RefreshCycle) harness(refresh.get.verify(pass))
    }

    /** The refresh cycle's private state: seeded JSONL batches of about
      * 10% of `orders` (about 9% existing keys with a changed price,
      * about 1% new keys), generated with plain Spark before the clock
      * starts; versions written beside the lake and swapped in; each
      * cycle checked against its batch after the clock stops. */
    private final class Refresh {
      private val lakeDir = Paths.get(lake.dir)
      private val live = lakeDir.resolve("orders.parquet")
      private val source = spark.read.parquet(s"${a("source-lake")}/orders.parquet")
      private val nCust = spark.read.parquet(s"${a("source-lake")}/customer.parquet").count()
      private var rows = spark.read.parquet(live.toString).count()
      private var nextKey = source.agg(max("o_orderkey")).head().getLong(0) + 1
      // Version files: the generated table is one file or a directory.
      private val parts =
        Option(live.toFile.list()).fold(1)(_.count(_.endsWith(".parquet")))
      private var expectChanged, expectNew = 0L
      private var batch: Path = _
      private var previous: Path = _

      val schema: StructType = source.schema

      def prepare(cycle: Int): Unit = {
        batch = work.resolve(s"batch-$cycle")
        def h(salt: Int) = xxhash64(col("o_orderkey"), lit(seed), lit(cycle), lit(salt))
        val changed = source
          .where(pmod(h(0), lit(100)) < 9)
          .withColumn("o_totalprice",
            round(col("o_totalprice") + lit(cycle + 1) + pmod(h(1), lit(100)) / 100.0, 2))
        val n = rows / 100
        val fresh = spark.range(n).select((col("id") + lit(nextKey)).as("o_orderkey"))
          .select(
            col("o_orderkey"),
            pmod(h(2), lit(nCust)).as("o_custkey"),
            element_at(array(lit("O"), lit("F"), lit("P")), (pmod(h(3), lit(3)) + 1).cast("int"))
              .as("o_orderstatus"),
            round(lit(1000.0) + pmod(h(4), lit(49900000)) / 100.0, 2).as("o_totalprice"),
            timestamp_seconds(lit(788918400L) + pmod(h(5), lit(2403)) * 86400L).as("o_orderdate"),
            element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
              .map(lit): _*), (pmod(h(6), lit(5)) + 1).cast("int")).as("o_orderpriority"))
        changed.unionByName(fresh).coalesce(1).write.mode("overwrite").json(batch.toString)
        expectChanged = changed.count()
        expectNew = n
        nextKey += n
        batchBytes(cycle) = Files.list(batch).iterator().asScala
          .filter(_.toString.endsWith(".json")).map(Files.size(_)).sum
      }

      def cycle(pass: Int): Unit = {
        val op = RefreshCycle.name
        val updates = tracer.span("sources.read", op, pass)(
          Ingest.readJsonl(spark, batch.toString, schema))
        val merged = tracer.span("operators.build", op, pass)(
          CatalogOps.upsert(lake.resolve("orders"), updates, "o_orderkey").drop("merge_src"))
        val staging = work.resolve(s"orders-v$pass")
        previous = work.resolve(s"orders-old-$pass")
        tracer.span("sources.write", op, pass) {
          Ingest.writeParquet(merged, staging.toString, parts)
          Files.move(live, previous)
          Files.move(staging, live)
        }
        tracer.span("catalog.reregister", op, pass)(lake.registerViews())
        val df = tracer.span("catalog.analyze", op, pass)(spark.sql(validated(Workloads.CoverageSql)))
        tracer.span("exec", op, pass)(noop(df))
      }

      /** Rewritten row count and changed-row count against the batch. */
      def verify(pass: Int): Unit = if (previous != null) {
        val before = spark.read.parquet(previous.toString)
        val after = spark.read.parquet(live.toString)
        val n = after.count()
        val same = schema.fieldNames.map(c => before(c) <=> after(c)).reduce(_ && _)
        val changed = before.join(after, before("o_orderkey") === after("o_orderkey"))
          .where(!same).count()
        val ok = n == rows + expectNew && changed == expectChanged
        refreshChecks += ((pass, ok,
          s"rows $n (expected ${rows + expectNew}), changed $changed (expected $expectChanged)"))
        rows = n
        deleteTree(previous)
        deleteTree(batch)
        previous = null
      }
    }

    private def deleteTree(p: Path): Unit =
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

    private def writeSpans(path: String): Unit = {
      val lines = tracer.spans.sortBy(_.startNs).map { s =>
        Json.obj(Seq(
          "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
          "op" -> Json.str(s.op), "pass" -> s.pass.toString,
          "start_s" -> Json.num((s.startNs - tracer.spans.head.startNs) / 1e9),
          "end_s" -> Json.num((s.endNs - tracer.spans.head.startNs) / 1e9),
          "jobs" -> s.delta.jobs.toString, "tasks" -> s.delta.tasks.toString))
      }
      Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    private def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    private def report(setupS: Double): String = {
      val measured = opRuns.filter(_.measured)
      val passes = measured.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.seconds).sum)
      val nPass = passes.size.toDouble
      def setupSpan(name: String) = tracer.spans.find(s => s.name == name && s.op == "setup").get
      val measuredPasses = measured.map(_.pass).toSet
      val inMeasured = tracer.spans.filter(s => s.op != "setup" && measuredPasses(s.pass)).toSeq
      def perPass(name: String)(f: Span => Double) =
        inMeasured.filter(_.name == name).map(f).sum / nPass
      val opDelta = inMeasured.filter(_.name == "op").map(_.delta).foldLeft(Snap())(_ + _)
      val passS = median(passes)
      val writeBytes = perPass("sources.write")(_.delta.outputBytes.toDouble)
      val refreshBytes = inMeasured.filter(s => s.name == "sources.write" &&
        s.op == RefreshCycle.name).map(_.delta.outputBytes.toDouble).sum
      val userBytes = measuredPasses.toSeq.flatMap(batchBytes.get).sum.toDouble
      val layers: Seq[(String, Double)] = Seq(
        "session.create_s" -> setupSpan("session.create").seconds,
        "catalog.register_s" -> setupSpan("catalog.register").seconds,
        "catalog.jobs" -> setupSpan("catalog.register").delta.jobs.toDouble,
        "catalog.reregister_s" -> perPass("catalog.reregister")(_.seconds),
        "catalog.analyze_s" -> perPass("catalog.analyze")(_.seconds),
        "operators.build_s" -> perPass("operators.build")(_.seconds),
        "operators.eager_jobs" -> perPass("operators.build")(_.delta.jobs.toDouble),
        "sched.jobs" -> opDelta.jobs / nPass,
        "sched.stages" -> opDelta.stages / nPass,
        "sched.tasks" -> opDelta.tasks / nPass,
        "sched.failed_tasks" -> opDelta.failedTasks / nPass,
        "sched.no_task_s" -> measured.map(_.noTaskS).sum / nPass,
        "trace.pass_s" -> passS,
        "exec.cpu_s" -> opDelta.cpuNs / 1e9 / nPass,
        "exec.run_s" -> opDelta.runMs / 1e3 / nPass,
        "exec.core_util" -> (if (passS > 0) opDelta.runMs / 1e3 / nPass / (passS * cores) else 0.0),
        "exec.gc_s" -> opDelta.gcMs / 1e3 / nPass,
        "exchange.spill_mb" -> opDelta.spillDisk / MB / nPass,
        "scan.input_mb" -> opDelta.inputBytes / MB / nPass,
        "scan.input_rows" -> opDelta.inputRows / nPass,
        "exchange.write_mb" -> opDelta.shuffleWrite / MB / nPass,
        "exchange.read_mb" -> opDelta.shuffleRead / MB / nPass,
        "sources.write_s" -> perPass("sources.write")(_.seconds),
        "sources.output_mb" -> writeBytes / MB,
        "sources.bytes_per_user_byte" -> (if (userBytes > 0) refreshBytes / userBytes else 0.0)
      )
      val selfS = tracer.selfSeconds(s => s.op != "setup" && measuredPasses(s.pass))
        .map { case (k, v) => k -> v / nPass }
      val ops = opRuns.map { r =>
        Json.obj(Seq("op" -> Json.str(r.op), "pass" -> r.pass.toString,
          "measured" -> r.measured.toString, "s" -> Json.num(r.seconds),
          "error" -> r.error.fold("null")(Json.str)))
      }
      Json.obj(Seq(
        "workload" -> Json.str(workload.name),
        "cores" -> cores.toString,
        "traced" -> traced.toString,
        "setup_s" -> Json.num(setupS),
        "pass_s" -> Json.arr(passes.map(Json.num)),
        "ops" -> Json.arr(ops.toSeq),
        "checks" -> Json.obj(checks.toSeq.map { case (k, v) => k -> Json.str(v) }),
        "refresh_checks" -> Json.arr(refreshChecks.toSeq.map { case (p, ok, d) =>
          Json.obj(Seq("pass" -> p.toString, "ok" -> ok.toString, "detail" -> Json.str(d)))
        }),
        "heap_after_gc_peak_mb" -> Json.num(gcPeak.peakMb),
        "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
        "self_s" -> Json.obj(selfS.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })
      ))
    }
  }
}

private final case class OpRun(
    op: String, pass: Int, measured: Boolean, seconds: Double,
    error: Option[String], noTaskS: Double)

/** Peak heap occupancy right after a collection, since the last reset. */
final class GcPeak {
  @volatile private var peak = 0L
  def peakMb: Double = peak / (1024.0 * 1024.0)
  def reset(): Unit = peak = 0L
  private[perfbench] def record(used: Long): Unit = if (used > peak) peak = used
}

object GcPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  def install(): GcPeak = {
    val g = new GcPeak
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          g.record(info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _                      => ()
    }
    g
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
