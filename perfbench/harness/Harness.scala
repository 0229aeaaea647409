package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Drain
import org.apache.spark.sql.SparkSession

final case class Span(name: String, startNs: Long, endNs: Long, parent: String, op: String)

/** Wall clock in epoch nanoseconds with `System.nanoTime` resolution, so
  * harness spans and listener (epoch millisecond) spans share one axis. */
object Clock {
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now: Long = epochBase + (System.nanoTime() - nanoBase)
}

/** One timed operation. `body` runs inside the timed region and returns a
  * thunk that produces the output fingerprint outside it. */
final case class Op(name: String, module: String, body: Ctx => () => String)

/** Per-op scope handed to an op body: times its phases and, on traced
  * passes, tags the Spark jobs each phase triggers. Work outside any
  * phase is tagged `exec`. Phases do not nest. */
final class Ctx(spark: SparkSession, val key: String, traced: Boolean, spans: mutable.Buffer[Span]) {
  val phaseNs = mutable.LinkedHashMap.empty[String, Long]
  private def tag(phase: String): Unit =
    if (traced) spark.sparkContext.setJobGroup(s"$key|$phase", phase, interruptOnCancel = false)
  tag("exec")
  def phase[T](name: String)(body: => T): T = {
    tag(name)
    val t0 = Clock.now
    try body
    finally {
      val t1 = Clock.now
      phaseNs(name) = phaseNs.getOrElse(name, 0L) + (t1 - t0)
      if (traced) spans += Span(name, t0, t1, key, key)
      tag("exec")
    }
  }
}

/** One benchmark run in one JVM: start a session, warm up, then run whole
  * passes over the workload's ops in a closed loop with one client until
  * the time budget is spent, and write every op record and span to files
  * under the run root. With tracing on, every pass is
  * traced; tracing overhead is a traced run's op time minus an untraced
  * run's.
  *
  * Usage: Harness <workload> <dataDir> <runRoot> <seed> <seconds> <trace 0|1>
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, root, seedS, secondsS, traceS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val tSession0 = Clock.now
    val spark = session(root)
    val sessionNs = Clock.now - tSession0

    val wl = Workloads(workload, spark, dataDir, root, seed)
    val out = new Recorder(s"$root/result")
    out.line(Json.obj("kind" -> "session", "session_s" -> sessionNs / 1e9,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "cpus" -> spark.sparkContext.defaultParallelism))

    val spans = mutable.ArrayBuffer.empty[Span]
    val listener = new LayerListener

    def runPass(pass: Int, traced: Boolean): Unit = {
      val ops = wl.pass(pass)
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      val passKey = s"pass$pass"
      val t0 = Clock.now
      for (op <- ops) {
        val key = s"p$pass:${op.name}"
        val ctx = new Ctx(spark, key, traced, spans)
        if (traced) listener.currentOp = key
        val c0 = processCpuNs()
        val o0 = Clock.now
        val (fpThunk, error) =
          try (op.body(ctx), "")
          catch { case e: Throwable => (() => "ERROR", s"${e.getClass.getName}: ${e.getMessage}") }
        val o1 = Clock.now
        val c1 = processCpuNs()
        if (traced) {
          spark.sparkContext.clearJobGroup()
          spans += Span(op.name, o0, o1, passKey, key)
        }
        val fp = try fpThunk() catch { case e: Throwable => s"ERROR ${e.getMessage}" }
        val layers = if (traced) {
          Drain(spark.sparkContext)
          listener.currentOp = null
          val c = listener.take(key)
          c.toMap ++ Map(
            "eager.build_s" -> ctx.phaseNs.getOrElse("build", 0L) / 1e9,
            "cache.bytes_left" -> wl.cachedBytes().toDouble) ++
            c.jobMsBySite.map { case (site, ms) => s"site.$site" -> ms / 1e3 }
        } else Map.empty[String, Double]
        wl.afterOp(op.name)
        out.line(Json.obj("kind" -> "op", "pass" -> pass, "traced" -> traced,
          "op" -> op.name, "module" -> op.module, "latency_s" -> (o1 - o0) / 1e9,
          "cpu_s" -> (c1 - c0) / 1e9, "fp" -> fp, "error" -> error,
          "phases" -> ctx.phaseNs.map { case (k, v) => k -> v / 1e9 }.toMap,
          "layers" -> layers, "extra" -> wl.opExtra(op.name)))
      }
      val t1 = Clock.now
      wl.afterPass(pass)
      if (traced) {
        Drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
        spans += Span(passKey, t0, t1, "run", passKey)
      }
    }

    // warm-up, inside set-up: a fixed scan/aggregate/join/window round over
    // the generated tables, so session-wide first-use costs (class loading,
    // code generation, the parquet reader, shuffle and broadcast) are paid
    // before the first timed op
    val tWarm = Clock.now
    Warmup(spark, dataDir)
    out.line(Json.obj("kind" -> "warmup", "wall_s" -> (Clock.now - tWarm) / 1e9))
    spark.catalog.clearCache()
    out.line(Json.obj("kind" -> "timed", "first_op_ms" -> System.currentTimeMillis()))

    // timed phase: whole passes, at least one, until the budget is spent
    val deadline = Clock.now + (seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || Clock.now < deadline) {
      runPass(pass, trace)
      pass += 1
    }
    out.line(Json.obj("kind" -> "end", "vmhwm_kb" -> vmHwmKb()))
    out.close()
    val sp = new Recorder(s"$root/spans")
    (spans ++ listener.jobSpans).foreach(s => sp.line(Json.obj("name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op)))
    sp.close()
    spark.stop()
  }

  /** The session every benchmark JVM runs: `local[<cores>]`, as many
    * shuffle partitions as cores, UTC, and all scratch space under `root`. */
  def session(root: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The warm-up round: touches scan, hash aggregate, broadcast and
    * shuffled joins, a window and the fingerprint sink. */
  private object Warmup {
    def apply(spark: SparkSession, dir: String): Unit = {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val c = spark.read.parquet(s"$dir/customer.parquet")
      Sink.fingerprint(li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "l_returnflag").agg(sum("l_quantity"), count(lit(1))))
      Sink.fingerprint(o.withColumn("r", row_number().over(
        Window.partitionBy("o_orderstatus").orderBy("o_orderkey"))).where(col("r") <= 10))
      Sink.fingerprint(li.groupBy("l_partkey").count().join(
        li.groupBy("l_suppkey").count(), col("l_partkey") === col("l_suppkey")))
    }
  }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }
}

/** Appends JSON lines to `<path>.jsonl`. */
final class Recorder(path: String) {
  private val w = new java.io.PrintWriter(new java.io.FileWriter(s"$path.jsonl"))
  def line(s: String): Unit = { w.println(s); w.flush() }
  def close(): Unit = w.close()
}

object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}")
  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
      .sorted.mkString("{", ",", "}")
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Writes every declared query of a workload to `<out>/<name>/` as parquet,
  * with its fingerprint and its oracle SQL, for the one-off DuckDB
  * cross-check (`perfbench/crosscheck.py`).
  *
  * Usage: Dump <workload> <dataDir> <outDir>
  */
object Dump {
  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir) = args
    new java.io.File(outDir).mkdirs()
    val spark = Harness.session(outDir)
    val queries = workload match {
      case "reference_etl" => graft.queries.Reference.all
      case "ext_curate" =>
        val byName = graft.ext.ExtQueries.all.map(q => q.name -> q).toMap
        Workloads.ExtHeavy.map { case (n, _) => byName(n) }
      case _ => Nil
    }
    val out = new Recorder(s"$outDir/queries")
    for (q <- queries) {
      val df = q.run(spark, dataDir)
      df.write.mode("overwrite").parquet(s"$outDir/${q.name}")
      out.line(Json.obj("op" -> q.name, "fp" -> Sink.fingerprint(q.run(spark, dataDir)),
        "oracle" -> q.oracle.orNull))
      spark.catalog.clearCache()
    }
    out.close()
    spark.stop()
  }
}
