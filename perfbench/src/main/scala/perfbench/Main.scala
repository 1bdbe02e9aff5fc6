package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM, driven by perfbench/run.py:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --inputs <dir> --work <dir> [--trace-out <file>]
  *
  * Prints `PERFBENCH_READY` once the session is up and the inputs are
  * registered (run.py times set-up from the process start to that line),
  * then one `PERFBENCH_RESULT {json}` line. */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, inputs: String, work: String, traceOut: Option[String])

  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv("--trace") == "1", kv("--inputs"), kv("--work"),
      kv.get("--trace-out"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      // the settings graft.tools.Manager runs the jobs with, at this
      // machine's core count
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      // all run state stays in the run's work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Progress line on stderr, stamped with seconds since JVM start (the
    * run log a failed run leaves behind). */
  def note(msg: String): Unit = System.err.println(f"[perfbench +${
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1fs] $msg")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args.work)
    note("session up")
    // a comma list runs several workloads in this one session, each in
    // its own work directory (the self-check does this)
    val names = args.workload.split(",").toSeq
    names.zipWithIndex.foreach { case (name, i) =>
      val a = if (names.size == 1) args
        else args.copy(workload = name, work = s"${args.work}/$name")
      val workload: Workload = name match {
        case "load_fresh" | "load_cohort2" | "genic_qc" =>
          new VcfWorkload(spark, a)
        case "table_dml" => new TableDml(spark, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      workload.register()
      if (i == 0) {
        note("inputs registered")
        println("PERFBENCH_READY")
        System.out.flush()
      }
      val res = workload.run()
      note(s"$name done")
      a.traceOut.foreach { p =>
        val w = new java.io.PrintWriter(p, "UTF-8")
        try w.println(Json(res.trace)) finally w.close()
      }
      println("PERFBENCH_RESULT " + Json(Map(
        "workload" -> name,
        "correct" -> (res.failed == 0 && res.checks.forall(_._2)),
        "attempted" -> res.attempted, "failed" -> res.failed,
        "metrics" -> res.metrics, "checks" -> res.checks.toMap)))
      System.out.flush()
    }
    spark.stop()
  }
}

/** What one run produces: metric name -> value, the checks it ran, and
  * (traced runs) the trace document. */
final case class RunResult(metrics: Map[String, Double], attempted: Int,
    failed: Int, checks: Seq[(String, Boolean)], trace: Map[String, Any])

trait Workload {
  /** Set-up after the session: register the inputs. */
  def register(): Unit
  def run(): RunResult
}

/** Counts operations and failures. An operation that throws is a failed
  * operation and is never timed; fatal errors are not caught. */
final class Ops {
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  val errors = mutable.ArrayBuffer.empty[String]

  /** Runs `body`, returning its result and wall seconds, or None when it
    * threw. */
  def timed[T](what: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        None
    }
  }

  /** A correctness check: counts as one attempted operation, failed when
    * `ok` is false or evaluating it threw. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val pass = try ok catch {
      case NonFatal(e) =>
        errors += s"check $name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        false
    }
    if (!pass) failed += 1
    checks += name -> pass
    pass
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap still in use after a full collection, in MB: what persisted
    * frames, broadcasts and caches hold at this point. */
  def liveHeapMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    mem.getUsed / (1024.0 * 1024.0)
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(g => dirBytes(g.getPath)).sum
  }

  def dirFiles(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (!f.exists()) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles()).toSeq.flatten.flatMap(g => dirFiles(g.getPath))
  }

  def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val it = java.nio.file.Files.walk(s).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }
}

/** Minimal JSON writer for the result line and the trace document. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ": " + apply(x) }
        .sortBy(identity).mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
