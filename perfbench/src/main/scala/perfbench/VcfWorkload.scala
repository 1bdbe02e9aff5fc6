package perfbench

import graft.model.LoadConfig
import graft.operators.{GenicAnnotator, GenicQcJob, VariantLoader}
import graft.sources.{VariantStore, VcfSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.collection.mutable

/** The paper's two batch jobs, driven through the public functions
  * graft.tools.Manager calls, in Manager's order:
  *
  *  - load_fresh:   `--runLoad` of cohort A into an empty store
  *  - load_cohort2: `--runLoad` of cohort B onto the store built from A
  *  - genic_qc:     `--genicQc` of A against the A store under gene
  *                  release r2
  *
  * Each timed job starts from the same store state (a fresh directory, or
  * a copy of the prepared A store), so every repetition does the same
  * work. One untimed warm-up job runs first. */
final class VcfWorkload(spark: SparkSession, args: Main.Args) extends Workload {
  private val in = args.inputs
  private val work = args.work
  private val ops = new Ops
  private val vcfA = s"$in/a.vcf.gz"
  private val vcfB = s"$in/b.vcf.gz"
  private val vcfAB = s"$in/ab.vcf.gz"
  private val manifest = JsonMethods.parse(
    scala.io.Source.fromFile(s"$in/manifest.json").mkString)
  private var genesR1: DataFrame = _
  private var genesR2: DataFrame = _
  private var baseCfg: LoadConfig = _

  def register(): Unit = {
    genesR1 = spark.read.parquet(s"$in/genes_r1.parquet")
    genesR2 = spark.read.parquet(s"$in/genes_r2.parquet")
    val dict = JsonMethods.parse(
      scala.io.Source.fromFile(s"$in/samples.json").mkString) match {
      case JObject(fs) => fs.collect { case (k, JInt(v)) => k -> v.toInt }.toMap
      case other => sys.error(s"samples.json: not an object: $other")
    }
    baseCfg = LoadConfig(mapKey = 372, sampleDict = dict)
  }

  private def mInt(path: String*): Long =
    path.foldLeft(manifest)(_ \ _) match {
      case JInt(v) => v.toLong
      case other => sys.error(s"manifest ${path.mkString(".")}: $other")
    }

  private def storeCount(store: String, side: String): Long =
    try spark.read.parquet(s"$store/$side").count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  /** One `--runLoad`: the seconds it took (the heap probe excluded), live
    * heap after it (when probed; the timed jobs are), and what it added to
    * the store. */
  final case class JobOut(seconds: Double, heapMb: Double, addedVariants: Long,
      addedDetails: Long)

  private def loadJob(vcf: String, store: String, tracer: Option[Tracer],
      probeHeap: Boolean = false): JobOut = {
    def sp[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(body))
    val t0 = System.nanoTime()
    var forced = Seq.empty[DataFrame]
    val seed = sp("sources.VariantStore.maxRgdId")(
      VariantStore.maxRgdId(spark, store, 0L))
    val config = baseCfg.copy(rgdIdSeed = seed)
    val (existing, existingDetails) = sp("sources.VariantStore.snapshot")(
      (VariantStore.variants(spark, store), VariantStore.detailKeys(spark, store)))
    val result = tracer match {
      case None =>
        VariantLoader.load(spark, vcf, genesR1, existing, existingDetails, config)
      case Some(_) =>
        // VariantLoader.load, one public step at a time
        val idx = sp("sources.VcfSource.headerSamples")(
          VcfSource.headerSamples(spark, vcf).zipWithIndex.flatMap {
            case (name, i) => config.sampleDict.get(name).map(i -> _)
          }.toMap)
        val raw = sp("sources.VcfSource.records")(VcfSource.records(spark, vcf))
        // normalized alleles are forced and kept here, so parse and
        // normalize land in this span and loadFromAlleles starts from them
        val alleles = sp("operators.VariantLoader.normalizedAllelesFromRecords") {
          val a = VariantLoader.normalizedAllelesFromRecords(spark, raw, config)
            .persist(StorageLevel.MEMORY_AND_DISK)
          a.count()
          a
        }
        val r = sp("operators.VariantLoader.loadFromAlleles")(
          VariantLoader.loadFromAlleles(spark, alleles, genesR1, existing,
            existingDetails, config, idx))
        // force each sink frame on its own so mint, melt and the write
        // separate; the persisted frames feed the append below
        sp("operators.LoadResult.newVariants")(
          r.newVariants.persist(StorageLevel.MEMORY_AND_DISK).count())
        sp("operators.LoadResult.sampleDetails")(
          r.sampleDetails.persist(StorageLevel.MEMORY_AND_DISK).count())
        forced = Seq(alleles, r.newVariants, r.sampleDetails)
        r
    }
    val (v0, d0) = sp("sources.store.countBefore")(
      (storeCount(store, "variants"), storeCount(store, "details")))
    sp("sources.VariantStore.append")(VariantStore.append(result, store))
    val paused = System.nanoTime()
    val heap = if (probeHeap) Stats.liveHeapMb() else 0.0
    val resumed = System.nanoTime()
    forced.foreach(_.unpersist())
    result.unpersist()
    val (v1, d1) = sp("sources.store.countAfter")(
      (storeCount(store, "variants"), storeCount(store, "details")))
    sp("sources.VariantStore.recordLoad")(
      VariantStore.recordLoad(spark, store, VariantStore.fileHash(spark, vcf),
        vcf, v1 - v0, d1 - d0))
    val secs = (System.nanoTime() - t0 - (resumed - paused)) / 1e9
    JobOut(secs, heap, v1 - v0, d1 - d0)
  }

  /** One `--genicQc` under gene release r2. */
  private def qcJob(vcf: String, store: String, tracer: Option[Tracer],
      probeHeap: Boolean): (JobOut, Long) = {
    def sp[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(body))
    val t0 = System.nanoTime()
    val seed = sp("sources.VariantStore.maxRgdId")(
      VariantStore.maxRgdId(spark, store, 0L))
    val existing = sp("sources.VariantStore.snapshot")(
      VariantStore.variants(spark, store))
    val changes = sp("operators.GenicQcJob.run")(GenicQcJob.run(spark, vcf,
      genesR2, existing, baseCfg.copy(rgdIdSeed = seed)).persist())
    val n = sp("operators.qc.changes")(changes.count())
    sp("sources.VariantStore.applyGenicUpdates")(
      VariantStore.applyGenicUpdates(spark, store,
        changes.select(col("rgd_id"), col("genic_status"))))
    val paused = System.nanoTime()
    val heap = if (probeHeap) Stats.liveHeapMb() else 0.0
    val resumed = System.nanoTime()
    changes.unpersist()
    val secs = (System.nanoTime() - t0 - (resumed - paused)) / 1e9
    (JobOut(secs, heap, 0L, 0L), n)
  }

  private val isQc = args.workload == "genic_qc"
  private val jobVcf = if (args.workload == "load_cohort2") vcfB else vcfA
  private val base = s"$work/stores/base"
  private val oneBatch = s"$work/stores/one-batch"
  private var rep = 0
  /** Changed rows reported by every QC job (all must agree). */
  private val qcChanged = mutable.ArrayBuffer.empty[Long]

  /** One repetition on a fresh copy of the starting store. */
  private def job(tracer: Option[Tracer], probeHeap: Boolean)
      : Option[(JobOut, String)] = {
    rep += 1
    val store = s"$work/stores/rep-$rep"
    if (args.workload != "load_fresh") Stats.copyDir(base, store)
    ops.timed(s"${args.workload} job $rep") {
      if (isQc) {
        val (o, n) = qcJob(jobVcf, store, tracer, probeHeap)
        qcChanged += n
        o
      } else loadJob(jobVcf, store, tracer, probeHeap)
    }.map { case (o, _) => (o, store) }
  }

  private def dropStore(store: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))

  def run(): RunResult = {
    if (args.workload != "load_fresh")
      ops.timed("prepare the A store")(loadJob(vcfA, base, None))
    Main.note("prepared")

    // untimed warm-up, then timed repetitions for the run's seconds, at
    // least three (one before a traced run). load_cohort2 warms up with its
    // checks' own loads: the one-batch load of AB (the reference the A
    // then B store is compared with) and A reloaded onto a copy of the A
    // store, which runs the store's read side with every key a hit. The
    // other workloads run one job.
    if (args.workload == "load_cohort2") {
      ops.timed("one-batch load of AB")(loadJob(vcfAB, oneBatch, None))
      val copy = s"$work/stores/reload"
      Stats.copyDir(base, copy)
      reloadCheck(copy)
      dropStore(copy)
    } else job(None, probeHeap = false).foreach { case (_, s) => dropStore(s) }
    Main.note("warm-up done")
    val (budget, minReps) = if (args.trace) (0.0, 1) else (args.seconds, 3)
    val times = mutable.ArrayBuffer.empty[Double]
    val heaps = mutable.ArrayBuffer.empty[Double]
    var storeBytes = -1L
    var lastStore: Option[String] = None
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < budget || times.size < minReps) {
      job(None, probeHeap = true).foreach { case (o, s) =>
        times += o.seconds
        heaps += o.heapMb
        if (storeBytes < 0) storeBytes = Stats.dirBytes(s)
        lastStore.foreach(dropStore)
        lastStore = Some(s)
      }
      if (rep > 60 && times.isEmpty) sys.error("every job failed")
    }
    val jobS = Stats.median(times.toSeq)
    Main.note(s"timed jobs: ${times.map(t => f"$t%.2f").mkString(" ")}")

    lastStore.foreach(checks)
    Main.note("checks done")

    val metrics = mutable.Map[String, Double](
      "job_s" -> jobS,
      "store_bytes" -> storeBytes.toDouble,
      "jvm.live_heap_peak_mb" -> heaps.max)
    var trace: Map[String, Any] = Map.empty
    if (args.trace) {
      val (layers, doc) = traced(jobS)
      metrics ++= (Layers.zero(args.workload) ++ layers).filter(kv => !metrics.contains(kv._1))
      trace = doc ++ Map("untraced_job_s" -> times.toSeq,
        "errors" -> ops.errors.toSeq)
    }
    RunResult(metrics.toMap, ops.attempted, ops.failed, ops.checks.toSeq,
      trace ++ Map("workload" -> args.workload, "seed" -> args.seed,
        "metrics" -> metrics.toMap, "checks" -> ops.checks.toMap))
  }

  // ------------------------------------------------------------------
  // correctness checks
  // ------------------------------------------------------------------

  private def checks(lastStore: String): Unit = args.workload match {
    case "load_fresh" =>
      parseChecks("a", vcfA)
      reloadCheck(lastStore)
    case "load_cohort2" =>
      parseChecks("a", vcfA)
      parseChecks("b", vcfB)
      ops.check("store A then B = one-batch load of A and B (rgd_id " +
          "excluded)") {
        new java.io.File(s"$oneBatch/variants").exists &&
          sameRows(variantContent(lastStore), variantContent(oneBatch)) &&
          sameRows(detailContent(lastStore), detailContent(oneBatch))
      }
    case "genic_qc" =>
      val (expected, before) = qcExpectation()
      ops.check("QC changed rows = independent recount under r2")(
        qcChanged.nonEmpty && qcChanged.forall(_ == expected.size))
      ops.check("QC store holds the recounted status for every variant") {
        val after = VariantStore.variants(spark, lastStore)
          .select("rgd_id", "genic_status").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        after.size == before.size && before.forall { case (id, (_, _, old)) =>
          after.get(id).contains(expected.getOrElse(id, old))
        }
      }
  }

  /** The generator's exact counts for one file: records parsed, and
    * alleles per chromosome with one allele-0 row per record kept (so the
    * contig-dropped and DP=0-dropped records are exactly the missing ones). */
  private def parseChecks(key: String, vcf: String): Unit = {
    ops.check(s"$key: records parsed = generator's data lines")(
      VcfSource.records(spark, vcf).count() == mInt(key, "records"))
    ops.check(s"$key: alleles per chromosome = generator's (contig and " +
        "DP=0 drops exact)") {
      val byChrom = VariantLoader.normalizedAlleles(spark, vcf, baseCfg)
        .groupBy("chromosome")
        .agg(count(lit(1)), sum(when(col("allele_idx") === 0, 1).otherwise(0)))
        .collect()
      val got = byChrom.map(r => r.getString(0) -> r.getLong(1)).toMap
      val kept = byChrom.map(_.getLong(2)).sum
      val want = (manifest \ key \ "alleles_by_chrom") match {
        case JObject(fs) => fs.collect { case (k, JInt(v)) => k -> v.toLong }.toMap
        case _ => Map.empty[String, Long]
      }
      got == want && kept == mInt(key, "records") -
        mInt(key, "contig_dropped") - mInt(key, "dp0_dropped")
    }
  }

  private def reloadCheck(store: String): Unit =
    ops.check("reload of A adds 0 variants and 0 details") {
      ops.timed("reload A")(loadJob(vcfA, store, None)).exists {
        case (o, _) => o.addedVariants == 0 && o.addedDetails == 0
      }
    }

  /** Multiset equality of two frames: row count and the sum of a 64-bit
    * hash of every row, one aggregate each. On a mismatch a few rows that
    * are in one frame and not the other go to the run log. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def digest(df: DataFrame) = df
      .select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val same = digest(a) == digest(b)
    if (!same) Seq("only left" -> a.exceptAll(b), "only right" -> b.exceptAll(a))
      .foreach { case (side, df) =>
        df.limit(5).collect().foreach(r => Main.note(s"$side: $r"))
      }
    same
  }

  private def variantContent(store: String): DataFrame =
    VariantStore.variants(spark, store).drop("rgd_id")

  private def detailContent(store: String): DataFrame = {
    val v = VariantStore.variants(spark, store)
      .select(col("rgd_id").as("v_id"), col("chromosome"), col("start_pos"),
        col("ref_nuc"), col("var_nuc"))
    spark.read.parquet(s"$store/details")
      .join(v, col("rgd_id") === col("v_id")).drop("rgd_id", "v_id")
  }

  /** Independent recount of the QC: the point probe [start_pos, start_pos]
    * of every stored variant at a locus of A, against r2's intervals, in
    * plain Scala. Returns rgd_id -> new status for the rows that change,
    * and the pre-QC store (rgd_id -> (chromosome, start, status)). */
  private def qcExpectation()
      : (Map[Long, String], Map[Long, (String, Long, String)]) = {
    val loci = VariantLoader.normalizedAlleles(spark, vcfA, baseCfg)
      .filter(col("allele_idx") === 0).select("chromosome", "start_pos")
      .distinct().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val genes = genesR2.select("chromosome", "start_pos", "stop_pos").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val before = VariantStore.variants(spark, base)
      .select("rgd_id", "chromosome", "start_pos", "genic_status").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getString(3)))
      .toMap
    val changed = before.collect {
      case (id, (c, p, old)) if loci((c, p)) =>
        val hit = genes.getOrElse(c, Array.empty).exists(g => g._2 <= p && g._3 >= p)
        id -> (if (hit) "GENIC" else "INTERGENIC") -> old
    }.collect { case ((id, now), old) if now != old => id -> now }.toMap
    (changed, before)
  }

  // ------------------------------------------------------------------
  // traced run
  // ------------------------------------------------------------------

  /** Which step a stage belongs to, from the span its job started in,
    * the job's call site and what the stage reads. */
  private def step(span: Span, st: StageRec): String = span.name match {
    case _ if st.readsText => "sources.vcf.parse"
    case "operators.VariantLoader.normalizedAllelesFromRecords" =>
      "operators.load.normalize"
    case "operators.VariantLoader.loadFromAlleles" =>
      if (st.jobCallSite.contains("GenicAnnotator")) "operators.load.genic"
      else "operators.load.dedup"
    case "operators.LoadResult.newVariants" => "operators.load.mint"
    case "operators.LoadResult.sampleDetails" => "operators.load.melt"
    case "sources.VariantStore.append" => "sources.store.append"
    case "operators.GenicQcJob.run" | "operators.qc.changes" =>
      "operators.qc.annotate"
    case "sources.VariantStore.applyGenicUpdates" => "sources.store.rewrite"
    case _ => "sources.store.other"
  }

  /** One traced repetition after the untraced ones. */
  private def traced(untracedJobS: Double): (Map[String, Double], Map[String, Any]) = {
    val tracer = new Tracer(spark)
    tracer.start()
    val root0 = tracer.spans.size
    val out = tracer.span("job")(job(Some(tracer), probeHeap = false))
    tracer.stop()
    val root = tracer.spans(root0)
    val (o, store) = out.getOrElse(sys.error("the traced job failed"))
    val jobTraced = (root.end - root.start) / 1000.0
    val all = layerMetrics(tracer, root, store) ++ Map(
      "trace.job_s" -> jobTraced,
      "trace.overhead_ratio" -> (jobTraced / untracedJobS - 1.0)) ++
      posthocCounts(o)
    val (steps, gap) = tracer.attribute(root, step)
    val doc = Map[String, Any](
      "traced_job_s" -> jobTraced,
      "spans" -> tracer.spansJson(root),
      "stage_steps_s" -> steps,
      "driver_gap_s" -> gap,
      "steps_plus_gap_s" -> (steps.values.sum + gap),
      "stages" -> tracer.stagesIn(root).map(s => Map(
        "stage" -> s.stageId, "job" -> s.jobId, "call_site" -> s.jobCallSite,
        "span" -> tracer.spanAt(root, s.jobSubmitted).name,
        "step" -> step(tracer.spanAt(root, s.jobSubmitted), s),
        "tasks" -> s.numTasks, "dur_s" -> s.durMs / 1000.0,
        "scopes" -> s.scopes.distinct)))
    (all, doc)
  }

  private def layerMetrics(tr: Tracer, root: Span, store: String)
      : Map[String, Double] = {
    val (steps, _) = tr.attribute(root, step)
    def s(k: String) = steps.getOrElse(k, 0.0)
    val st = tr.stagesIn(root)
    val textStages = st.filter(x => x.readsText && x.numTasks == 1)
    val inSpan = (name: String) => st.filter(x =>
      tr.spanAt(root, x.jobSubmitted).name == name)
    val appendStages = inSpan("sources.VariantStore.append")
    val m = mutable.Map[String, Double](
      "sources.vcf.parse_s" -> s("sources.vcf.parse"),
      "sources.vcf.decode_serial_s" ->
        (if (textStages.isEmpty) 0.0 else textStages.map(_.durMs).max / 1000.0),
      "sources.store.scan_bytes" ->
        st.filter(_.readsParquet).map(_.inputBytes).sum.toDouble)
    if (isQc) {
      m ++= Map(
        "operators.qc.annotate_s" -> s("operators.qc.annotate"),
        "operators.qc.changed_rows" -> qcChanged.last.toDouble,
        "sources.store.rewrite_s" -> s("sources.store.rewrite"))
    } else {
      // per-operator row counts of the forced detail frame: the melt's
      // Generate, and the J6 anti-join's input and output
      val q = tr.queriesIn(root).filter(q =>
        tr.spans(q.span).name == "operators.LoadResult.sampleDetails")
      val metrics = q.flatMap(_.nodes).toMap
      val meltRows = metrics.collect { case (g: GenerateExec, mm) =>
        mm.getOrElse("numOutputRows", 0L) }.sum.toDouble
      val anti = metrics.keys.collect {
        case j: BaseJoinExec if j.joinType == LeftAnti => j }.headOption
      val antiIn = anti.flatMap(j => Tracer.rowsOut(j.left, metrics))
        .getOrElse(0L).toDouble
      val antiOut = anti.flatMap(j => Tracer.rowsOut(j, metrics))
        .getOrElse(0L).toDouble
      val files = Stats.dirFiles(store).filter(_.getName.startsWith("part-"))
      m ++= Map(
        "operators.load.normalize_s" -> s("operators.load.normalize"),
        "operators.load.genic_s" -> s("operators.load.genic"),
        "operators.load.dedup_s" -> s("operators.load.dedup"),
        "operators.load.mint_s" -> s("operators.load.mint"),
        "operators.load.melt_s" -> s("operators.load.melt"),
        "operators.load.melt_rows" -> meltRows,
        "operators.load.melt_keep_ratio" ->
          (if (meltRows > 0) antiIn / meltRows else 0.0),
        "operators.load.detail_antijoin_hit_ratio" ->
          (if (antiIn > 0) 1.0 - antiOut / antiIn else 0.0),
        "sources.store.append_s" -> s("sources.store.append"),
        "sources.store.bytes_written" ->
          appendStages.map(_.outputBytes).sum.toDouble,
        "sources.store.files_written" -> files.count(f =>
          f.lastModified() >= root.start).toDouble)
    }
    m.toMap ++ tr.sparkMetrics(root, Main.Cores)
  }

  /** Counts taken after the traced jobs, outside their time. */
  private def posthocCounts(last: JobOut): Map[String, Double] = {
    val records = VcfSource.records(spark, jobVcf).count().toDouble
    val alleles = VariantLoader.normalizedAlleles(spark, jobVcf, baseCfg)
    val byStatus = GenicAnnotator.annotateIndexed(alleles, genesR1)
      .groupBy("genic_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val nAlleles = byStatus.values.sum
    val common = Map(
      "sources.vcf.records" -> records,
      "operators.load.alleles" -> nAlleles)
    if (isQc) {
      val loci = alleles.filter(col("allele_idx") === 0)
        .select("chromosome", "start_pos").distinct()
      val store = VariantStore.variants(spark, base)
      val probed = store.join(loci, Seq("chromosome", "start_pos"), "left_semi")
        .count().toDouble
      val changed = qcChanged.last.toDouble
      common ++ Map(
        "operators.qc.loci" -> loci.count().toDouble,
        "operators.qc.probed_variants" -> probed,
        "sources.store.rewrite_amplification" ->
          (if (changed > 0) store.count() / changed else 0.0))
    } else {
      // J4 outcome against the starting store, recounted independently:
      // alleles whose null-safe key is already stored, and of those the
      // ones whose end position drifted
      val (hits, drift) =
        if (args.workload == "load_fresh") (0.0, 0.0)
        else {
          val db = VariantStore.variants(spark, base).select(
            col("chromosome").as("d_c"), col("start_pos").as("d_s"),
            col("end_pos").as("d_e"), coalesce(col("ref_nuc"), lit("")).as("d_r"),
            coalesce(col("var_nuc"), lit("")).as("d_v"))
          val r = alleles.join(db, col("chromosome") === col("d_c") &&
              col("start_pos") === col("d_s") &&
              coalesce(col("ref_nuc"), lit("")) === col("d_r") &&
              coalesce(col("var_nuc"), lit("")) === col("d_v"))
            .agg(count(lit(1)), sum(when(col("d_e") =!= col("end_pos") &&
              col("end_pos") =!= 0, 1).otherwise(0))).head()
          (r.getLong(0).toDouble, Option(r.get(1)).map(_.toString.toDouble)
            .getOrElse(0.0))
        }
      common ++ Map(
        "operators.load.genic_ratio" ->
          byStatus.getOrElse("GENIC", 0.0) / math.max(1.0, nAlleles),
        "operators.load.dedup_hit_ratio" -> hits / math.max(1.0, nAlleles),
        "operators.load.end_pos_updates" -> drift,
        "operators.load.new_variants" -> last.addedVariants.toDouble,
        "operators.load.details_new" -> last.addedDetails.toDouble)
    }
  }
}
