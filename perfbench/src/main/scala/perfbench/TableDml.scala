package perfbench

import graft.streaming.LayoutIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.control.NonFatal

/** The clustered layout table (streaming.LayoutIngest, its
  * `graft-layout` relation and sql.GraftSqlExtensions) under one client
  * running a closed loop: each statement is sent when the previous one
  * has returned. The table is bootstrapped on (user_id, ts_us) with a
  * Bloom sidecar on event_id, filled by two DataFrameWriter appends and
  * folded into range-split units; then rounds of a fixed seeded mix run
  * until the time is up. One round is one job:
  *
  *   DELETE FROM ... WHERE user_id BETWEEN ...        (box delete)
  *   UPDATE ... SET event_type = ... WHERE user_id BETWEEN ...
  *   MERGE INTO ... USING <20 live rows + 1 new row> ON event_id
  *   SELECT count(*) ... WHERE user_id BETWEEN ... AND ts_us BETWEEN ...
  *   SELECT event_id, event_type ... WHERE event_id IN (<10 ids>)
  *
  * A driver-side model of the table (the generated rows with every
  * statement applied) is the oracle: after each statement the row count
  * and the rows the statement implies are probed against it. */
final class TableDml(spark: SparkSession, args: Main.Args) extends Workload {
  private val ops = new Ops
  private val dir = s"${args.work}/events_table"
  private var events: DataFrame = _

  // the model: generated ids are dense, so columns are arrays by id
  private var users: Array[Long] = _
  private var tss: Array[Long] = _
  private var values: Array[Double] = _
  private var types: Array[String] = _
  private var alive: Array[Boolean] = _
  private var nAlive = 0L
  private val inserted = mutable.LinkedHashMap.empty[Long, (Long, Long, String, Double)]
  private var umn, umx, tmn, tmx = 0L

  def register(): Unit = {
    events = spark.read.parquet(s"${args.inputs}/events.parquet")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("event_type"), col("value"))
    events.createOrReplaceTempView("events_src")
  }

  private def loadModel(): Unit = {
    val rows = events.collect()
    val n = rows.length
    users = new Array(n); tss = new Array(n); values = new Array(n)
    types = new Array(n); alive = Array.fill(n)(true)
    rows.foreach { r =>
      val id = r.getLong(0).toInt
      users(id) = r.getLong(1); tss(id) = r.getLong(2)
      types(id) = r.getString(3); values(id) = r.getDouble(4)
    }
    nAlive = n
    umn = users.min; umx = users.max; tmn = tss.min; tmx = tss.max
  }

  private def count(sql: String): Long = spark.sql(sql).head().getLong(0)

  private val scanStats: Option[() => (Int, Int)] = try {
    val cls = Class.forName("graft.streaming.LayoutScanStats$")
    val mod = cls.getField("MODULE$").get(null)
    val read = cls.getMethod("lastUnitsRead")
    val live = cls.getMethod("lastUnitsLive")
    Some(() => (read.invoke(mod).asInstanceOf[Int], live.invoke(mod).asInstanceOf[Int]))
  } catch { case NonFatal(_) => None }

  /** Per-op records of a round: (kind, seconds, rows changed). */
  final case class OpRec(kind: String, seconds: Double, rows: Long,
      rewrittenRatio: Double, unitsRead: Int, unitsLive: Int)

  private def ingest(): Double = {
    val t0 = System.nanoTime()
    LayoutIngest.bootstrap(spark, dir, LayoutIngest.Grid(
      Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)), bits = 16,
      bloomCols = Seq("event_id")))
    val step = (tmx - tmn) / 2 + 1
    (0 until 2).foreach { q =>
      events.filter(col("ts_us") >= tmn + q * step && col("ts_us") < tmn + (q + 1) * step)
        .write.format("graft-layout").mode("append").save(dir)
    }
    val dataBytes = Stats.dirFiles(s"$dir/data")
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30,
      targetFileBytes = math.max(1L, dataBytes / 16))
    spark.read.format("graft-layout").load(dir)
      .createOrReplaceTempView("events_table")
    (System.nanoTime() - t0) / 1e9
  }

  private def unitBytes(): (Map[String, Long], Long, Long) = {
    val d = LayoutIngest.describe(spark, dir).select("unit", "bytes", "rows")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    (d.map(x => x._1 -> x._2).toMap, d.map(_._2).sum, d.map(_._3).sum)
  }

  private def liveIds(rng: scala.util.Random, k: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < k) {
      val id = rng.nextInt(alive.length)
      if (alive(id)) out += id.toLong
    }
    out.toSeq
  }

  private def userBox(rng: scala.util.Random, width: Long): (Long, Long) = {
    val lo = umn + (rng.nextDouble() * (umx - umn - width)).toLong
    (lo, lo + width - 1)
  }

  private def boxIds(lo: Long, hi: Long): Seq[Int] =
    alive.indices.filter(i => alive(i) && users(i) >= lo && users(i) <= hi)

  /** One round of the mix; None when a statement threw. Checks run
    * between statements and are not timed. */
  private def round(r: Int, tracer: Option[Tracer]): Option[Seq[OpRec]] = {
    // java.util.Random's first draws from nearby seeds are nearly equal;
    // SplittableRandom mixes (seed, round) into an unrelated seed
    val rng = new scala.util.Random(
      new java.util.SplittableRandom(args.seed * 100003L + r).nextLong())
    val recs = mutable.ArrayBuffer.empty[OpRec]
    def op(kind: String, sql: String, rowsChanged: Long, dml: Boolean)
        : Option[Array[org.apache.spark.sql.Row]] = {
      val before = if (tracer.nonEmpty && dml) Some(unitBytes()) else None
      val res = ops.timed(s"$kind round $r") {
        tracer.fold(spark.sql(sql).collect())(_.span(s"sql.$kind")(
          spark.sql(sql).collect()))
      }
      res.map { case (rows, secs) =>
        val ratio = before.map { case (units, bytes, nRows) =>
          val (after, _, _) = unitBytes()
          val rewritten = after.filter { case (u, _) => !units.contains(u) }
            .values.sum.toDouble
          val changed = rowsChanged * bytes.toDouble / math.max(1L, nRows)
          if (changed > 0) rewritten / changed else 0.0
        }.getOrElse(0.0)
        val (read, live) =
          if (dml) (0, 0) else scanStats.map(_.apply()).getOrElse((0, 0))
        recs += OpRec(kind, secs, rowsChanged, ratio, read, live)
        rows
      }
    }
    def total(): Boolean = count("SELECT count(*) FROM events_table") == nAlive

    // DELETE a slice of users
    val (dlo, dhi) = userBox(rng, 2)
    val delRows = boxIds(dlo, dhi).size.toLong +
      inserted.count(x => x._2._1 >= dlo && x._2._1 <= dhi)
    val ok1 = op("delete", s"DELETE FROM events_table WHERE user_id BETWEEN $dlo AND $dhi",
      delRows, dml = true).isDefined
    if (!ok1) return None
    boxIds(dlo, dhi).foreach { i => alive(i) = false; nAlive -= 1 }
    inserted.filter(x => x._2._1 >= dlo && x._2._1 <= dhi).keys.toSeq.foreach { k =>
      inserted.remove(k); nAlive -= 1
    }
    ops.check(s"delete round $r: row count and the box is empty")(total() &&
      count(s"SELECT count(*) FROM events_table WHERE user_id BETWEEN $dlo AND $dhi") == 0)

    // UPDATE a slice of users in place
    val (ulo, uhi) = userBox(rng, 3)
    val tag = s"upd$r"
    val upd = boxIds(ulo, uhi)
    val updIns = inserted.filter(x => x._2._1 >= ulo && x._2._1 <= uhi).keys.toSeq
    if (op("update", s"UPDATE events_table SET event_type = '$tag' " +
        s"WHERE user_id BETWEEN $ulo AND $uhi", (upd.size + updIns.size).toLong,
        dml = true).isEmpty) return None
    upd.foreach(i => types(i) = tag)
    updIns.foreach(k => inserted(k) = inserted(k).copy(_3 = tag))
    ops.check(s"update round $r: row count and every box row relabelled")(total() &&
      count(s"SELECT count(*) FROM events_table WHERE event_type = '$tag'") ==
        upd.size + updIns.size)

    // MERGE: relabel 20 live rows, insert one new row
    val mtag = s"mrg$r"
    val ids = liveIds(rng, 20)
    val newId = alive.length.toLong + r
    val nu = users(rng.nextInt(users.length))
    val src = ids.map(i => (i, users(i.toInt), tss(i.toInt), mtag, values(i.toInt))) :+
      ((newId, nu, tmn + 1L, mtag, 1.0))
    spark.createDataFrame(src).toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .createOrReplaceTempView("dml_src")
    val cols = Seq("event_id", "user_id", "ts_us", "event_type", "value")
    val mergeSql = s"""MERGE INTO events_table USING dml_src
      ON events_table.event_id = dml_src.event_id
      WHEN MATCHED THEN UPDATE SET ${cols.tail.map(c => s"$c = dml_src.$c").mkString(", ")}
      WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
        VALUES (${cols.map(c => s"dml_src.$c").mkString(", ")})"""
    if (op("merge", mergeSql, src.size.toLong, dml = true).isEmpty) return None
    ids.foreach(i => types(i.toInt) = mtag)
    inserted(newId) = (nu, tmn + 1L, mtag, 1.0)
    nAlive += 1
    ops.check(s"merge round $r: one row added and 21 rows carry the label")(total() &&
      count(s"SELECT count(*) FROM events_table WHERE event_type = '$mtag'") == 21)

    // pruned box read
    val (blo, bhi) = userBox(rng, 40)
    val tlo = tmn + (rng.nextDouble() * (tmx - tmn) / 2).toLong
    val thi = tlo + (tmx - tmn) / 4
    val boxSql = s"SELECT count(*) FROM events_table WHERE user_id BETWEEN $blo AND $bhi " +
      s"AND ts_us BETWEEN $tlo AND $thi"
    val box = op("scan", boxSql, 0L, dml = false)
    if (box.isEmpty) return None
    val want = alive.indices.count(i => alive(i) && users(i) >= blo && users(i) <= bhi &&
      tss(i) >= tlo && tss(i) <= thi) + inserted.values.count(v =>
      v._1 >= blo && v._1 <= bhi && v._2 >= tlo && v._2 <= thi)
    ops.check(s"box read round $r matches the model")(box.get.head.getLong(0) == want)

    // bloom-pruned point read
    val pts = liveIds(rng, 10)
    val pt = op("scan", s"SELECT event_id, event_type FROM events_table " +
      s"WHERE event_id IN (${pts.mkString(", ")})", 0L, dml = false)
    if (pt.isEmpty) return None
    ops.check(s"point read round $r matches the model")(
      pt.get.map(x => x.getLong(0) -> x.getString(1)).toMap ==
        pts.map(i => i -> types(i.toInt)).toMap)
    Main.note(s"round $r: " + recs.map(o => f"${o.kind} ${o.seconds}%.2f s ${o.rows} rows")
      .mkString(", "))
    Some(recs.toSeq)
  }

  def run(): RunResult = {
    loadModel()
    val ingestS = ingest()
    Main.note(f"ingest $ingestS%.1f s")
    var r = 0
    val jobs = mutable.ArrayBuffer.empty[Double]
    val allOps = mutable.ArrayBuffer.empty[OpRec]
    val heaps = mutable.ArrayBuffer.empty[Double]
    var storeBytes = -1L
    // one untimed warm-up round (the first SQL DML of the process pays for
    // class loading and codegen), then rounds for the run's seconds, at
    // least one
    r += 1
    round(r, None)
    Main.note("warm-up round done")
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < args.seconds || jobs.isEmpty) {
      r += 1
      round(r, None).foreach { recs =>
        jobs += recs.map(_.seconds).sum
        allOps ++= recs
        if (storeBytes < 0) storeBytes = Stats.dirBytes(dir)
      }
      heaps += Stats.liveHeapMb()
      if (r > 200 && jobs.isEmpty) sys.error("every round failed")
    }
    val jobS = Stats.median(jobs.toSeq)
    val metrics = mutable.Map[String, Double](
      "job_s" -> jobS, "store_bytes" -> storeBytes.toDouble,
      "jvm.live_heap_peak_mb" -> heaps.max)
    var doc = Map.empty[String, Any]
    if (args.trace) {
      val tracer = new Tracer(spark)
      tracer.start()
      val traced = mutable.ArrayBuffer.empty[(Span, Seq[OpRec])]
      r += 1
      val before = tracer.spans.size
      tracer.span("round")(round(r, Some(tracer)))
        .foreach(x => traced += tracer.spans(before) -> x)
      tracer.stop()
      require(traced.nonEmpty, "the traced round failed")
      // the base of the tracing overhead: the mean of the untraced rounds
      // just before and just after the traced one, so the ledger growth
      // between rounds cancels out
      r += 1
      val warm = round(r, None).map(w => (w.map(_.seconds).sum + jobs.last) / 2)
      val recs = traced.flatMap(_._2)
      def p50(kind: String): Double = {
        val xs = recs.filter(_.kind == kind).map(_.seconds)
        if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
      }
      val scans = recs.filter(_.kind == "scan")
      val dmlSpans = tracer.spans.filter(s => Set("sql.delete", "sql.update",
        "sql.merge")(s.name)).map(_.id).toSet
      val planning = tracer.queries.filter(q => dmlSpans(q.span)).map(_.planningMs / 1000.0)
      val sparkM = traced.map { case (root, _) => tracer.sparkMetrics(root, Main.Cores) }
      val tracedJob = Stats.median(traced.map(_._2.map(_.seconds).sum).toSeq)
      metrics ++= Layers.zero(args.workload).filter(kv => !metrics.contains(kv._1)) ++
        sparkM.head.keys.map(k =>
        k -> Stats.median(sparkM.map(_(k)).toSeq)) ++ Map(
        "streaming.layout.ingest_s" -> ingestS,
        "streaming.layout.delete_p50_s" -> p50("delete"),
        "streaming.layout.update_p50_s" -> p50("update"),
        "streaming.layout.merge_p50_s" -> p50("merge"),
        "streaming.layout.scan_p50_s" -> p50("scan"),
        "streaming.layout.units_examined" ->
          (if (scans.isEmpty) 0.0 else scans.map(_.unitsRead).sum.toDouble / scans.size),
        "streaming.layout.units_pruned_ratio" -> (if (scans.map(_.unitsLive).sum == 0) 0.0
          else 1.0 - scans.map(_.unitsRead).sum.toDouble / scans.map(_.unitsLive).sum),
        "streaming.layout.bytes_rewritten_per_byte_changed" -> Stats.median(
          recs.filter(x => x.kind != "scan" && x.rows > 0).map(_.rewrittenRatio).toSeq :+ 0.0),
        "streaming.layout.ledger_markers" ->
          Option(new java.io.File(s"$dir/markers").list()).map(_.length).getOrElse(0).toDouble,
        "sql.dml.planning_s" -> (if (planning.isEmpty) 0.0 else Stats.median(planning.toSeq)),
        "sql.dml.ops_per_s" -> allOps.size / math.max(1e-9, allOps.map(_.seconds).sum),
        "trace.job_s" -> tracedJob,
        "trace.overhead_ratio" -> warm.map(tracedJob / _ - 1.0).getOrElse(0.0))
      val last = traced.last._1
      doc = Map(
        "untraced_round_s" -> jobs.toSeq,
        "untraced_around_traced_s" -> warm.toSeq,
        "traced_round_s" -> traced.map(_._2.map(_.seconds).sum).toSeq,
        "spans" -> tracer.spansJson(last),
        "ops" -> recs.map(o => Map("kind" -> o.kind, "s" -> o.seconds,
          "rows" -> o.rows, "units_read" -> o.unitsRead,
          "units_live" -> o.unitsLive)).toSeq,
        "units_from_scan_stats" -> scanStats.isDefined,
        "errors" -> ops.errors.toSeq)
    }
    RunResult(metrics.toMap, ops.attempted, ops.failed, ops.checks.toSeq,
      doc ++ Map("workload" -> args.workload, "seed" -> args.seed,
        "metrics" -> metrics.toMap, "checks" -> ops.checks.toMap))
  }
}
