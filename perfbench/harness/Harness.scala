package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: `--cold-passes` rounds of set-up followed
  * by a cold pass over the workload's entries, then warm passes for
  * `--seconds` (at least two; a pass starts only if it is expected to end
  * within the window), then an untimed digest pass over every entry.
  *
  * The engine is driven only through its public functions
  * (`SparkEntry.queries`, `GraftFunctions.register`, the three index
  * warm-ups and `GraftOps.releaseMaterialized`). Raw measurements are
  * written as one JSON object to `--out`; `run.py` turns them into
  * metrics.
  *
  * Arguments: `--data DIR --entries a,b,c --indexes ivf,minhash,simgraph
  * --seed N --seconds S --cold-passes K --trace 0|1 --out FILE`.
  */
object Harness {

  final case class Conf(
      data: String,
      entries: Seq[String],
      indexes: Seq[String],
      seed: Long,
      seconds: Double,
      coldPasses: Int,
      trace: Boolean,
      out: String)

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = kv.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Conf(kv("data"), list("entries"), list("indexes"), kv("seed").toLong,
      kv("seconds").toDouble, kv("cold-passes").toInt.max(1), kv("trace") == "1",
      kv("out"))
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def warmIndex(name: String, s: SparkSession, dir: String): Unit = name match {
    case "ivf" => graft.queries.LlmQueries.warmIvfIndex(s, dir)
    case "minhash" => graft.queries.LlmQueries.warmMinhashIndex(s, dir)
    case "simgraph" => graft.queries.SimGraph.warm(s, dir)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = new Json.Obj
    val spans = new Spans(conf.trace)
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    // the engine's streaming entries checkpoint under /dev/shm/graft_*
    def shmUsage() = Disk.usage(Paths.get("/dev/shm"), _.getFileName.toString.startsWith("graft_"))

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (conf.trace) Some(new StageListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    // the session is ready once it has answered a first query: the JVM's
    // one-time SQL start-up cost lands here, not on a random cold entry
    spark.read.parquet(s"${conf.data}/nation.parquet").groupBy("n_regionkey").count().collect()
    out("session_start_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val queries = graft.SparkEntry.queries
    val missing = conf.entries.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(",")}")

    val writePlans = new WritePlans
    val passes = ArrayBuffer[Json.Obj]()
    val runSpan = spans.open("run", "run", None)
    var measured = 0.0

    def runPass(label: String, session: SparkSession, dir: String): Double = {
      val order = new scala.util.Random(conf.seed * 1000003L + passes.size).shuffle(conf.entries)
      val jvm0 = Jvm.sample()
      val disk0 = if (conf.trace) Some((Disk.usage(tmpDir, _ => true), shmUsage())) else None
      val passSpan = spans.open("pass", label, Some(runSpan))
      val t0 = now()
      val records = order.map(name => runEntry(session, queries(name), dir, name, label, spans, passSpan))
      val wall = secs(t0, now())
      spans.close(passSpan)
      val jvm1 = Jvm.sample()
      val p = new Json.Obj
      p("label") = label
      p("wall_s") = wall
      p("entries") = Json.Arr(records)
      p("jit_s") = jvm1.jitS - jvm0.jitS
      p("gc_s") = jvm1.gcS - jvm0.gcS
      for ((tmp0, shm0) <- disk0) {
        val tmp1 = Disk.usage(tmpDir, _ => true)
        p("tmp_written_mb") = (tmp1.bytes - tmp0.bytes) / 1e6
        p("files_written") = (tmp1.files - tmp0.files).toDouble
        p("shm_written_mb") = (shmUsage().bytes - shm0.bytes) / 1e6
      }
      passes += p
      measured += wall
      wall
    }

    // Set-up, repeated `coldPasses` times, each time on a new session and
    // a new alias of the dataset directory (the engine keys its caches by
    // directory path, so every index is built into an empty cache) and
    // each followed by a cold pass over that alias: every cold pass starts
    // with empty engine caches (indexes, fixtures, commit-log tables,
    // stream sources), and the first one also on a JVM that has run no
    // entry yet. The last alias is kept for the warm passes.
    val reps = ArrayBuffer[Json.Obj]()
    var session = spark
    var dir = ""
    for (k <- 1 to conf.coldPasses) {
      val alias = Paths.get(s"data$k").toAbsolutePath
      Files.createSymbolicLink(alias, Paths.get(conf.data).toAbsolutePath)
      dir = alias.toString
      val rep = new Json.Obj
      val diskBefore = Disk.usage(tmpDir, _ => true)
      val t0 = now()
      session = spark.newSession()
      graft.functions.GraftFunctions.register(session)
      for (idx <- conf.indexes) {
        val ti = now()
        warmIndex(idx, session, dir)
        rep(s"index_${idx}_s") = secs(ti, now())
      }
      rep("setup_s") = secs(t0, now())
      rep("index_disk_mb") = (Disk.usage(tmpDir, _ => true).bytes - diskBefore.bytes) / 1e6
      reps += rep
      if (conf.trace) session.listenerManager.register(writePlans)
      runPass(s"cold$k", session, dir)
    }
    out("setup") = Json.Arr(reps.toSeq)

    // warm passes while another one fits the window (at least two)
    val warmStart = now()
    var lastPassS = 0.0
    var warm = 0
    while (warm < 2 || secs(warmStart, now()) + lastPassS <= conf.seconds) {
      warm += 1
      lastPassS = runPass(s"warm$warm", session, dir)
    }
    spans.close(runSpan)
    out("measure_s") = measured
    out("passes") = Json.Arr(passes.toSeq)

    // untimed output check: one digest per entry
    val digests = new Json.Obj
    for (name <- conf.entries) {
      digests(name) = try Digest.of(queries(name)(session, dir)) catch {
        case e: Throwable => Json.Obj("error" -> Json.Str(String.valueOf(e.getMessage).take(300)))
      } finally graft.api.GraftOps.releaseMaterialized()
    }
    out("digests") = digests
    out("has_oracle") = Json.Arr(conf.entries.filter(graft.SparkEntry.oracleSql.contains).map(Json.Str))

    // stopping the context drains the listener bus, so the listener's
    // view is complete before it is read
    spark.stop()
    listener.foreach(l => out("stages") = l.stagesJson)
    if (conf.trace) {
      out("write_plans") = Json.Arr(writePlans.digests.toSeq)
      out("spans") = spans.json
    }
    out("peak_rss_mb") = Jvm.peakRssMb()
    Files.writeString(Paths.get(conf.out), out.render + "\n")
  }

  /** Run one entry: build the DataFrame, force its physical plan, then
    * time a `noop` write of it. The materialization release after the
    * entry is outside every timed region.
    */
  private def runEntry(s: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String, name: String, label: String, spans: Spans, parent: Int): Json.Obj = {
    val rec = new Json.Obj
    rec("name") = name
    s.sparkContext.setJobGroup(s"$label|$name", name)
    val entrySpan = spans.open("entry", name, Some(parent))
    val t0 = now()
    var t1, t2 = t0
    var phase = spans.open("build", name, Some(entrySpan))
    try {
      val df = fn(s, dir)
      t1 = now(); spans.close(phase)
      phase = spans.open("plan", name, Some(entrySpan))
      df.queryExecution.executedPlan
      t2 = now(); spans.close(phase)
      phase = spans.open("exec", name, Some(entrySpan))
      df.write.format("noop").mode("overwrite").save()
      val t3 = now(); spans.close(phase)
      rec("build_s") = secs(t0, t1)
      rec("plan_s") = secs(t1, t2)
      rec("exec_s") = secs(t2, t3)
      rec("total_s") = secs(t0, t3)
    } catch {
      case e: Throwable =>
        spans.close(phase)
        rec("total_s") = secs(t0, now())
        rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      spans.close(entrySpan)
      s.sparkContext.clearJobGroup()
    }
    rec("released") = graft.api.GraftOps.releaseMaterialized().toDouble
    rec
  }
}

/** Digests of the parquet dumps `graft.Verify` writes, so the stored
  * digests can be compared with outputs the oracle has checked.
  * Arguments: DUMP_DIR OUT_FILE NAME...
  */
object DumpDigests {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val out = new Json.Obj
    args.drop(2).foreach(n => out(n) = Digest.of(spark.read.parquet(s"${args(0)}/$n")))
    Files.writeString(Paths.get(args(1)), out.render + "\n")
    spark.stop()
  }
}

/** Order-insensitive result digest: row count plus the sum of a 64-bit
  * hash of every row of the canonicalized output.
  */
object Digest {
  def of(df: DataFrame): Json.Obj = {
    val c = graft.Canon.canon(df)
    val schema = c.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val hashed =
      if (c.columns.isEmpty) c.select(lit(0L).as("h"))
      else c.select(xxhash64(c.columns.toIndexedSeq.map(n => col(s"`$n`")): _*).as("h"))
    val row = hashed.agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    Json.Obj(
      "rows" -> Json.Num(row.getLong(0).toDouble),
      "hash" -> Json.Str(Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")),
      "schema" -> Json.Str(schema))
  }
}

/** The executed plan of every timed `noop` write, in execution order. */
final class WritePlans extends org.apache.spark.sql.util.QueryExecutionListener {
  import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
  import org.apache.spark.sql.execution.QueryExecution

  val digests = ArrayBuffer[Json.Obj]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.logical match {
      case w: V2WriteCommand if w.table.name == "noop-table" =>
        val d = PlanDigest.of(qe.executedPlan)
        synchronized { digests += d }
      case _ =>
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Counts of the plan operators that explain execution-time moves. */
object PlanDigest {
  import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
  import org.apache.spark.sql.execution.joins.CartesianProductExec
  import org.apache.spark.sql.execution.window.WindowExec

  def of(plan: SparkPlan): Json.Obj = {
    val counts = scala.collection.mutable.LinkedHashMap(
      "exchanges" -> 0, "broadcasts" -> 0, "unpartitioned_windows" -> 0,
      "cartesians" -> 0, "codegen_stages" -> 0)
    def bump(k: String): Unit = counts(k) += 1
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => bump("exchanges")
        case _: BroadcastExchangeLike => bump("broadcasts")
        case w: WindowExec if w.partitionSpec.isEmpty => bump("unpartitioned_windows")
        case _: CartesianProductExec => bump("cartesians")
        case _: WholeStageCodegenExec => bump("codegen_stages")
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    Json.Obj(counts.toSeq.map { case (k, v) => k -> Json.Num(v.toDouble) }: _*)
  }
}

/** JIT, GC and resident-memory figures from JMX and procfs. */
object Jvm {
  final case class Sample(jitS: Double, gcS: Double)

  def sample(): Sample = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    Sample(jit, gc)
  }

  /** VmHWM of this process: the peak resident set size. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}

/** Bytes and regular files under a directory. */
object Disk {
  final case class Usage(bytes: Long, files: Long)

  def usage(root: Path, top: Path => Boolean): Usage = {
    if (!Files.isDirectory(root)) return Usage(0, 0)
    var bytes, files = 0L
    val tops = Files.list(root)
    try tops.iterator().asScala.filter(top).foreach { t =>
      val walk = Files.walk(t)
      try walk.iterator().asScala.foreach { p =>
        try if (Files.isRegularFile(p)) { bytes += Files.size(p); files += 1 }
        catch { case _: java.io.IOException => () } // deleted while walking
      } catch { case _: java.io.UncheckedIOException => () }
      finally walk.close()
    } finally tops.close()
    Usage(bytes, files)
  }
}
